package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.GeoEngine.SideMeta

/**
 * The SideMeta tally: `GeoEngine.sideMeta`'s one-job pass and the
 * statistics `SpatialIndex.build` counts in its snapshot write must both
 * equal a plain DataFrame aggregate of the same rows — a groupBy over the
 * rows' home fine cells, then over the coarse cells they nest in — on
 * mixed geometry types, one type per side (so the six flags differ), NaN
 * and null MBR fields, a hot fine tile, a hot coarse cell of wide rows, an
 * empty side and a non-nested grid, at one and at four input partitions.
 */
class SideMetaTallySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid = graft.web.Pages.WorldGrid

  private def ds(rows: Seq[GeoRow]): Dataset[GeoRow] = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  /** Points, boxes, linestrings and polygons over a region; ids from `base`. */
  private def mixed(base: Long, n: Int): Seq[GeoRow] = (0 until n).map { i =>
    val cx = (i * 37 % 400) / 8.0 - 20.0
    val cy = (i * 53 % 240) / 8.0 - 15.0
    val r = (i % 9 + 1) / 4.0
    val g = i % 4 match {
      case 0 => Geom(GeomType.POINT, Array(cx, cy))
      case 1 => Geom(GeomType.BOX, Array(cx - r, cy - r, cx + r, cy - r,
        cx + r, cy + r, cx - r, cy + r, cx - r, cy - r))
      case 2 => Geom(GeomType.LINESTRING, Array(cx - r, cy, cx, cy + r, cx + r, cy))
      case _ => Geom(GeomType.POLYGON, Array(cx - r, cy, cx, cy - r, cx + r, cy,
        cx, cy + r, cx - r, cy))
    }
    GeoRow.of(base + i, g)
  }

  /** Copies of `rows` with the MBR fields `fields(i)` of row i NaN
    * (0 = xmin … 3 = ymax); ids from `base`. */
  private def bad(rows: Seq[GeoRow], base: Long)(fields: Int => Seq[Int]) =
    rows.zipWithIndex.map { case (a, i) =>
      val m = Array(a.xmin, a.ymin, a.xmax, a.ymax)
      fields(i).foreach(m(_) = Double.NaN)
      GeoRow(base + i, a.gtype, a.coords, m(0), m(1), m(2), m(3))
    }

  /** `rows` with one NaN MBR field per bad copy, and 60 copies whose min
    * corner is NaN or null. Such a corner homes on cell 0 (the clamp reads
    * a NaN floor as 0 and `greatest` skips a null), so cell 0 is the
    * hottest at both levels. */
  private def withBad(rows: Seq[GeoRow]): Dataset[GeoRow] = {
    val corner = bad(rows.take(30), 92000L)(_ => Seq(0, 1))
    ds(rows ++ bad(rows.take(12), 90000L)(i => Seq(i % 4)) ++ corner)
      .union(TestRows.nulled(ds(bad(rows.take(30), 91000L)(_ => Seq(0, 1)))))
  }

  /** 300 points in one fine tile, with `mixed` rows around them. */
  private def hotFine: Seq[GeoRow] = mixed(0L, 80) ++ (0 until 300).map { i =>
    val x = 10.0 + (i % 17) * 1e-3
    val y = 20.0 + (i % 13) * 1e-3
    GeoRow(10000L + i, GeomType.POINT, Array(x, y), x, y, x, y)
  }

  /** 250 wide boxes whose min corners share one coarse cell but spread over
    * its fine tiles, with `mixed` rows around them. */
  private def hotCoarse: Seq[GeoRow] = mixed(0L, 80) ++ (0 until 250).map { i =>
    val x0 = 9.0 + (i % 30) * 0.04
    val y0 = 20.0 + (i / 30) * 0.07
    val x1 = x0 + 8.0
    val y1 = y0 + 0.3
    GeoRow(20000L + i, GeomType.BOX,
      Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0), x0, y0, x1, y1)
  }

  /** 200 boxes of 0.1° sides: a few fine cells each, so all narrow. */
  private def narrowBoxes: Seq[GeoRow] = mixed(0L, 200).map { a =>
    val (x, y) = (a.xmin, a.ymin)
    GeoRow.of(a.id, Geom(GeomType.BOX, Array(x, y, x + 0.1, y, x + 0.1, y + 0.1,
      x, y + 0.1, x, y)))
  }

  /** The statistics as a plain two-stage DataFrame aggregate: rows per home
    * fine cell (the MBR's clamped min corner) with the type and width flags,
    * then per coarse cell when the grids nest (a non-nested grid reads 0). */
  private def oracle(df: DataFrame, g: GridConfig,
                     maxFineCover: Int = GeoEngine.MaxFineCover): SideMeta = {
    def idx(c: String, ext: Double, lo: Double) =
      least(greatest(floor((col(c) - lit(lo)) / lit(ext)).cast("long"), lit(0L)),
        lit(g.globalPpd - 1L))
    val (iMin, iMax) = (idx("xmin", g.fineExtX, g.xMin), idx("xmax", g.fineExtX, g.xMin))
    val (jMin, jMax) = (idx("ymin", g.fineExtY, g.yMin), idx("ymax", g.fineExtY, g.yMin))
    val wide = (iMax - iMin + 1) * (jMax - jMin + 1) > maxFineCover
    val gt = col("gtype")
    def flag(c: Column) = max(when(c, 1).otherwise(0))
    val byFine = df.groupBy((iMin + jMin * lit(g.globalPpd.toLong)).as("t")).agg(
      count(lit(1)).as("c"), flag(wide).as("w"), flag(!wide).as("na"),
      flag(gt === GeomType.LINESTRING || gt === GeomType.POLYGON).as("nr"),
      flag(gt =!= GeomType.BOX).as("nb"),
      flag(gt === GeomType.POINT || gt === GeomType.BOX).as("re"),
      flag(gt === GeomType.BOX).as("bx"))
    val nested = g.globalPpd % g.coarsePpd == 0
    val fpc = g.globalPpd / g.coarsePpd
    val ct = floor(pmod(col("t"), lit(g.globalPpd.toLong)) / fpc) +
      floor(floor(col("t") / lit(g.globalPpd.toLong)) / fpc) * lit(g.coarsePpd.toLong)
    val byCoarse = byFine.groupBy(ct.as("ct")).agg(sum("c").as("cc"))
    val f = byFine.select(Seq("w", "na", "nr", "nb", "re", "bx").map(c =>
      coalesce(max(c), lit(0))) :+ coalesce(max("c"), lit(0L)): _*).head()
    val cc = byCoarse.agg(coalesce(max("cc"), lit(0L))).head().getLong(0)
    SideMeta(f.getInt(0) == 1, f.getInt(1) == 1, f.getInt(2) == 1,
      f.getInt(3) == 1, f.getInt(4) == 1, f.getInt(5) == 1, f.getLong(6),
      if (nested) cc else 0L)
  }

  private lazy val inputs: Seq[(String, Dataset[GeoRow], GridConfig)] = Seq(
    ("mixed types", ds(mixed(0L, 200)), grid),
    // one geometry type each: the six flags differ within a side
    ("points only", ds(mixed(0L, 200).filter(_.gtype == GeomType.POINT)), grid),
    ("narrow boxes only", ds(narrowBoxes), grid),
    ("wide linestrings only", ds(mixed(0L, 400).filter(a =>
      a.gtype == GeomType.LINESTRING && a.xmax - a.xmin >= 2.5)), grid),
    ("NaN and null MBR fields", withBad(mixed(0L, 200)), grid),
    ("hot fine tile", ds(hotFine), grid),
    ("hot coarse cell of wide rows", ds(hotCoarse), grid),
    ("empty side", ds(Nil), grid),
    ("non-nested grid", ds(mixed(0L, 200)), GridConfig(-180.0, -85.0, 180.0, 85.0, 100, 850)))

  test("sideMeta's tally ≡ the DataFrame aggregate, at 1 and 4 partitions") {
    for ((name, rows, g) <- inputs; n <- Seq(1, 4)) {
      val in = rows.repartition(n)
      val want = oracle(in.toDF(), g)
      assert(GeoEngine.sideMeta(in, g) == want, s"$name, $n partition(s)")
    }
  }

  test("the index build's stored side_meta ≡ the DataFrame aggregate, at 1 and 4 partitions") {
    val root = java.nio.file.Files.createTempDirectory("graft_tally_test").toString
    for (((name, rows, g), k) <- inputs.zipWithIndex; n <- Seq(1, 4)) {
      val in = rows.toDF().repartition(n)
      val built = graft.store.SpatialIndex.build(in, g, 8, root, s"t${k}_$n")
      assert(built.meta == oracle(in, g), s"$name, $n partition(s)")
      assert(built.df.count() == rows.count(), s"$name, $n partition(s)")
    }
  }

  test("the fixtures reach the statistics they are named for") {
    val m = inputs.map { case (name, rows, g) => name -> oracle(rows.toDF(), g) }.toMap
    assert(Seq(m("mixed types").hasNonRect, m("mixed types").hasBox,
      m("mixed types").hasRect, m("mixed types").hasNonBox).forall(identity))
    def flags(name: String) = { val x = m(name)
      Seq(x.hasWide, x.hasNarrow, x.hasNonRect, x.hasNonBox, x.hasRect, x.hasBox) }
    assert(flags("points only") == Seq(false, true, false, true, true, false))
    assert(flags("narrow boxes only") == Seq(false, true, false, false, true, true))
    assert(flags("wide linestrings only") == Seq(true, false, true, true, false, false))
    assert(m("NaN and null MBR fields").maxHomeTileCnt == 60)
    assert(m("NaN and null MBR fields").maxCoarseCellCnt == 60)
    assert(m("hot fine tile").maxHomeTileCnt >= 300)
    assert(m("hot coarse cell of wide rows").maxCoarseCellCnt >= 250)
    assert(m("hot coarse cell of wide rows").maxHomeTileCnt < 50)
    assert(m("hot coarse cell of wide rows").hasWide)
    assert(m("empty side") == SideMeta(false, false, false, false, false, false))
    assert(m("non-nested grid").maxCoarseCellCnt == 0L)
  }
}
