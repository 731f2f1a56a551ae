package perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GeoEngine, GeoRow, SparkEntry}
import graft.core.{GeomType, Predicates}
import graft.store.{Snapshots, SpatialIndex}
import graft.web.Pages

/** Row counts of the generated key tables, before replication. The base
  * sizes are the sf0.1 testdata tables (dense keys 0..n-1). */
final case class Sizes(orders: Long, part: Long, customer: Long,
                       supplier: Long, documents: Long, nations: Int) {
  /** Every table but the 25-row nation table, scaled; orders also by
    * `pointScale`. */
  def scaled(f: Double, pointScale: Double): Sizes = {
    def sc(n: Long, g: Double) = math.max(1L, math.round(n * g))
    Sizes(sc(orders, f * pointScale), sc(part, f), sc(customer, f),
      sc(supplier, f), sc(documents, f), nations)
  }
}

/** One timed operation, named after the `SparkEntry.oracleSql` entry its
  * output is checked against; `rowsIn` is the input rows it reads. */
final case class Op(name: String, rowsIn: Long, build: () => DataFrame)

/** Seeded input tables. Every key column is the dense base key, plus a
  * replica offset of 10⁸ (as `graft.ScaleData` replicates), plus a seed
  * shift, so the geometry the registry derives from the keys moves with the
  * seed. Only the key columns the spatial queries read are written. */
object Inputs {
  val ReplicaOffset = 100000000L

  def seedShift(seed: Long): Long = Math.floorMod(seed, 1000003L) * 7919L

  /** Writes the key tables under `dir` as single-file parquet, like the
    * testdata the registry is tuned on, keeping the keys `keep` accepts.
    * Returns rows per table. */
  def generate(spark: SparkSession, dir: String, seed: Long, base: Sizes,
               replicas: Int, tables: Seq[String],
               keep: Map[String, Column => Column] = Map.empty): Map[String, Long] = {
    val shift = seedShift(seed)
    def keys(n: Long, name: String): DataFrame =
      spark.range(n * replicas).select(
        (col("id") % n + (col("id") / n).cast("long") * ReplicaOffset +
          lit(shift)).as(name))
    val defs: Map[String, () => DataFrame] = Map(
      "orders" -> (() => keys(base.orders, "o_orderkey")),
      "part" -> (() => keys(base.part, "p_partkey")),
      "customer" -> (() => keys(base.customer, "c_custkey")),
      "supplier" -> (() => keys(base.supplier, "s_suppkey")),
      "documents" -> (() => keys(base.documents, "doc_id")),
      // dimension table, not replicated (ScaleData keeps nation as is): the
      // first `nations` kept ids from a seed-picked id range
      "nation" -> (() => {
        val off = Math.floorMod(seed, 10007L) * base.nations
        spark.range(off, off + 16L * base.nations).select(col("id").cast("int").as("n_nationkey"))
      }))
    tables.map { t =>
      val df = defs(t)()
      val kept0 = keep.get(t).fold(df)(f => df.where(f(col(df.columns.head))))
      val kept = if (t == "nation") kept0.orderBy(kept0.columns.head).limit(base.nations) else kept0
      val path = s"$dir/$t.parquet"
      kept.coalesce(1).write.mode("overwrite").parquet(path)
      t -> spark.read.parquet(path).count()
    }.toMap
  }
}

/** The three workloads. See perfbench/README.md for the rationale. */
object Workloads {
  val Sf01 = Sizes(orders = 150000, part = 20000, customer = 15000,
    supplier = 1000, documents = 5000, nations = 25)

  /** Input sizing of a workload: the fraction of sf0.1 for every table, an
    * extra factor on the point table, the replication factor, the pages per
    * ingest op, and the untimed warm-up rotations. The warm-up is a fixed
    * amount of work, not of time, so every run reaches the same JIT state:
    * op times keep falling for about two april_dense rotations and five
    * ingest ops. */
  final case class Params(scale: Double, pointScale: Double, replicas: Int,
                          pages: Long, warmup: Int) {
    def sizes: Sizes = Sf01.scaled(scale, pointScale)
  }

  val params: Map[String, Params] = Map(
    "april_dense" -> Params(scale = 1.0, pointScale = 1.0 / 3, replicas = 3,
      pages = 0, warmup = 2),
    "mbr_mix" -> Params(scale = 0.25, pointScale = 1.0, replicas = 1,
      pages = 0, warmup = 2),
    "ingest_index" -> Params(scale = 0.1, pointScale = 1.0, replicas = 1,
      pages = 25000, warmup = 5))

  // april_dense keeps the replicated rows whose geometry lies in the western
  // sixth of the dataspace (x < -120°): the diamonds then sit at 3× sf0.1's
  // density (sf0.1's part table, replicated 3×, over a sixth of the area)
  // while each op touches a sixth of the rows a world-wide 3× copy would.
  def westPoint(k: Long): Boolean = Math.floorMod(k * 7, 2880L) < 480
  def westDiamond(k: Long): Boolean = Math.floorMod(k * 13, 2800L) < 440
  val westKeep: Map[String, Column => Column] = Map(
    "orders" -> (k => pmod(k * 7, lit(2880L)) < 480),
    "part" -> (k => pmod(k * 13, lit(2800L)) < 440),
    "nation" -> (k => pmod(k * 29, lit(2800)) < 440))
  val grid = Pages.WorldGrid
  val AprilOrder = 10

  // The two stored-index queries of the registry keep their index under a
  // fixed /tmp path keyed by the data directory's name; the benchmark must
  // keep all state inside its own run directory, so it builds the same
  // stored index with SpatialIndex and issues the same GeoEngine calls as
  // q_pip_join_april / q_find_relation_april do. Inputs, formulas and
  // oracles are the registry's.
  private val MPoints = Some(GeoEngine.SideMeta(hasWide = false,
    hasNarrow = true, hasNonRect = false, hasNonBox = true,
    hasRect = true, hasBox = false))

  def orderPoints8(s: SparkSession, dir: String): Dataset[GeoRow] = {
    import s.implicits._
    val x = (col("o_orderkey") * 7 % 2880) / 8.0 - 180.0
    val y = (col("o_orderkey") * 11 % 1360) / 8.0 - 85.0
    s.read.parquet(s"$dir/orders.parquet").select(
      col("o_orderkey").as("id"), lit(GeomType.POINT).as("gtype"),
      array(x, y).as("coords"), x.as("xmin"), y.as("ymin"),
      x.as("xmax"), y.as("ymax")).as[GeoRow]
  }

  /** The registry's diamond polygons (cx, cy, hw, hh from p_partkey). */
  def diamonds(s: SparkSession, dir: String): DataFrame = {
    val cx = (col("p_partkey") * 13 % 2800) / 8.0 - 175.0
    val cy = (col("p_partkey") * 17 % 1280) / 8.0 - 80.0
    val hw = (col("p_partkey") % 40 + 2) / 8.0
    val hh = (col("p_partkey") % 30 + 2) / 8.0
    s.read.parquet(s"$dir/part.parquet").select(
      col("p_partkey").as("id"), lit(GeomType.POLYGON).as("gtype"),
      array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy).as("coords"),
      (cx - hw).as("xmin"), (cy - hh).as("ymin"),
      (cx + hw).as("xmax"), (cy + hh).as("ymax"))
  }

  def buildIndex(s: SparkSession, dir: String, root: String): SpatialIndex.Loaded =
    SpatialIndex.build(diamonds(s, dir), grid, AprilOrder, root, "diamonds_o10")

  def registry(name: String, rowsIn: Long, dir: String, s: SparkSession): Op =
    Op(name, rowsIn, () => SparkEntry.queries(name)(s, dir))

  def aprilDenseOps(s: SparkSession, dir: String, idx: SpatialIndex.Loaded,
                    rows: Map[String, Long]): IndexedSeq[Op] = {
    import s.implicits._
    val pd = rows("orders") + rows("part")
    IndexedSeq(
      Op("q_pip_join_april", pd, () =>
        GeoEngine.spatialJoin(orderPoints8(s, dir), idx.df.as[GeoRow],
          Predicates.INTERSECTS, grid, useApril = true,
          aprilOrder = AprilOrder, rMeta = MPoints, sMeta = Some(idx.meta))),
      Op("q_find_relation_april", pd, () =>
        GeoEngine.findRelationJoin(orderPoints8(s, dir), idx.df.as[GeoRow],
          grid, useApril = true, aprilOrder = AprilOrder,
          rMeta = MPoints, sMeta = Some(idx.meta))),
      registry("q_range_poly_april", rows("orders") + rows("nation"), dir, s))
  }

  def mbrMixOps(s: SparkSession, dir: String, rows: Map[String, Long]): IndexedSeq[Op] = {
    def r(a: String, b: String) = rows(a) + rows(b)
    IndexedSeq(
      registry("q_pip_join", r("orders", "part"), dir, s),
      registry("q_skew_join", r("documents", "part"), dir, s),
      registry("q_inside_join", r("customer", "part"), dir, s),
      registry("q_meet_join", r("part", "part"), dir, s),
      registry("q_find_relation", r("part", "customer"), dir, s),
      registry("q_distance_join", r("orders", "supplier"), dir, s),
      registry("q_knn", r("orders", "supplier"), dir, s),
      registry("q_range_count", r("orders", "nation"), dir, s),
      registry("q_range_collect", r("orders", "nation"), dir, s))
  }

  /** Seeded page batch: the column-only synthesis of
    * `Pages.synthesizeUrlText` over a seed-shifted id range. */
  def pages(s: SparkSession, n: Long, seed: Long): DataFrame = {
    val off = Inputs.seedShift(seed) * 1000L
    s.range(off, off + n).select(
      graft.functions.GeoExprs.pageUrl(col("id")).as("url"),
      graft.functions.GeoExprs.pageText(col("id")).as("text"))
  }
}

/** The write path of `GraftJob.run` on one batch, into a fresh root: each
  * stage is committed as a snapshot, then the polygon index is built. The
  * catalog-backed index of GraftJob is not used: `ensureBucketed` would find
  * the first op's table and skip every later build. */
object Ingest {
  /** Stage wall times in seconds, in pipeline order. */
  final case class Timing(synthesize: Double, geotag: Double,
                          tileAssign: Double, indexBuild: Double)

  def run(s: SparkSession, root: String, nPages: Long, seed: Long,
          polyDir: String, span: (String, () => Unit) => Double): Timing = {
    val lineage = Map("app" -> "perfbench")
    val tSyn = span("web.synthesize", () => {
      Snapshots.commit(Workloads.pages(s, nPages, seed), root, "pages", lineage)
    })
    val tGeo = span("web.geotag", () => {
      val p = Snapshots.load(s, root, "pages").get
      Snapshots.commit(Pages.geotag(p)
        .withColumn("id", graft.functions.GeoExprs.fnv64(col("url")))
        .select("id", "url", "x", "y"), root, "geotagged", lineage)
    })
    val tTile = span("engine.tile_assign", () => {
      val g = Snapshots.load(s, root, "geotagged").get
      Snapshots.commit(GeoEngine.tileAssignments(g, Workloads.grid, hexRes = 7).toDF(),
        root, "tiles", lineage)
    })
    val tIdx = span("store.index_build", () => {
      SpatialIndex.build(Workloads.diamonds(s, polyDir), Workloads.grid,
        Workloads.AprilOrder, root, "polygons_idx")
    })
    Timing(tSyn, tGeo, tTile, tIdx)
  }
}
