package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.Snapshots

/** Snapshot store: commit atomicity, manifests with per-partition metrics,
  * stage resume without recomputation. */
class SnapshotSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_snap_test").toString

  test("commit + load round trip with manifest metrics") {
    val root = freshRoot()
    import spark.implicits._
    val df = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") * 2).as("v"))
    val m = Snapshots.commit(df, root, "t1", Map("src" -> "range"))
    assert(m.snapshotId == 1L)
    assert(m.totalRows == 1000L)
    assert(m.partitions.map(_.rows).sum == 1000L)
    assert(m.partitions.size == 4)
    val back = Snapshots.load(spark, root, "t1").get
    assert(back.count() == 1000L)
    assert(back.agg(sum("v")).head().getLong(0) == 999L * 1000L)
    val manifestJson = Snapshots.latestManifest(root, "t1").get
    assert(manifestJson.contains("\"src\": \"range\"") || manifestJson.contains("\"src\":\"range\""))
  }

  test("successive commits bump the snapshot id; LATEST points at the newest") {
    val root = freshRoot()
    val df1 = spark.range(10).toDF("id")
    val df2 = spark.range(20).toDF("id")
    Snapshots.commit(df1, root, "t", Map.empty)
    Snapshots.commit(df2, root, "t", Map.empty)
    assert(Snapshots.latestId(root, "t").contains(2L))
    assert(Snapshots.load(spark, root, "t").get.count() == 20L)
  }

  test("runStage resumes from the committed snapshot without recomputation") {
    val root = freshRoot()
    var invocations = 0
    def stage() = Snapshots.runStage(spark, root, "stage1", Map("k" -> "v")) {
      invocations += 1
      spark.range(100).toDF("id")
    }
    assert(stage().count() == 100L)
    assert(invocations == 1)
    // a "restarted job": same stage again — must load, not recompute
    assert(stage().count() == 100L)
    assert(invocations == 1)
  }

  test("uncommitted (crashed) snapshot dir is ignored on resume") {
    val root = freshRoot()
    Snapshots.commit(spark.range(5).toDF("id"), root, "t", Map.empty)
    // simulate a crash: snapshot dir exists but LATEST never swapped
    val orphan = java.nio.file.Paths.get(root, "t", "snap-00002", "data")
    java.nio.file.Files.createDirectories(orphan)
    assert(Snapshots.latestId(root, "t").contains(1L))
    assert(Snapshots.load(spark, root, "t").get.count() == 5L)
    // next commit skips over the orphan id
    val m = Snapshots.commit(spark.range(7).toDF("id"), root, "t", Map.empty)
    assert(m.snapshotId == 2L) // overwrite-stage the orphan dir
    assert(Snapshots.load(spark, root, "t").get.count() == 7L)
  }

  test("load reads the stored schema and runs no job; a schema-less snapshot infers") {
    val root = freshRoot()
    // non-nullable fields and elements: the write keeps them, a parquet
    // read returns every field, element and value nullable
    val df = spark.range(0, 50, 1, 2).select(col("id"),
      array(col("id"), lit(1L)).as("arr"),
      map(lit("k"), col("id")).as("m"),
      struct(col("id").as("a"), array(lit(2.0)).as("b")).as("st"))
    assert(!df.schema("arr").nullable)
    Snapshots.commit(df, root, "t", Map.empty)
    val dataDir = java.nio.file.Paths.get(root, "t", "snap-00001", "data").toString
    val inferred = spark.read.parquet(dataDir).schema
    assert(inferred("arr").nullable && inferred("arr").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, true))
    val (loaded, jobs) = TestRows.jobsDuring(spark)(Snapshots.load(spark, root, "t").get)
    assert(jobs.isEmpty, s"load launched $jobs")
    assert(loaded.schema == inferred)
    assert(loaded.collect().toSet == spark.read.parquet(dataDir).collect().toSet)
    // a snapshot written without a schema file loads by inference
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "t", "snap-00001", "SCHEMA.json"))
    val old = Snapshots.load(spark, root, "t").get
    assert(old.schema == inferred)
    assert(old.count() == 50L)
  }

  private val grid = graft.web.Pages.WorldGrid

  private def diamonds(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val cx = (i * 13 % 2800) / 8.0 - 175.0
      val cy = (i * 17 % 1280) / 8.0 - 80.0
      val hw = (i % 40 + 2) / 8.0; val hh = (i % 30 + 2) / 8.0
      GeoRow(i.toLong, core.GeomType.POLYGON,
        Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh, cx - hw, cy),
        cx - hw, cy - hh, cx + hw, cy + hh)
    }.toDS()
  }

  test("persisted APRIL index: build → load round-trips data, lists and meta") {
    import spark.implicits._
    val root = freshRoot()
    def points(n: Int) = (0 until n).map { i =>
      val x = (i * 7 % 2880) / 8.0 - 180.0
      val y = (i * 11 % 1360) / 8.0 - 85.0
      GeoRow(i.toLong, core.GeomType.POINT, Array(x, y), x, y, x, y)
    }.toDS()
    var builds = 0
    def ensure() = graft.store.SpatialIndex.ensure(spark, root, "diamonds",
      grid, order = 10) { builds += 1; diamonds(300).toDF() }
    ensure()
    assert(builds == 1)
    // resume: a second ensure loads the committed snapshot, no rebuild
    val again = ensure()
    assert(builds == 1)
    // a DIFFERENT april order must NOT serve the stored order-10 lists
    // (incomparable cell spaces would silently drop true hits) — rebuild
    graft.store.SpatialIndex.ensure(spark, root, "diamonds", grid,
      order = 12) { builds += 1; diamonds(300).toDF() }
    assert(builds == 2, "order mismatch must rebuild the index")
    // and ensure() at the original order rebuilds again (latest snapshot is
    // the order-12 one) — parameters always win over what happens to be stored
    ensure()
    assert(builds == 3)
    // a snapshot with the same parameters but written by a different build
    // of the index code (its `code` lineage differs) must not be served
    val stored = Snapshots.latestManifest(root, "diamonds").get
    val params = Seq("stage", "april_order", "grid", "max_fine_cover", "side_meta")
      .map(k => k -> ("\"" + k + "\": \"([^\"]*)\"").r
        .findFirstMatchIn(stored).get.group(1)).toMap
    Snapshots.commit(again.df, root, "diamonds", params + ("code" -> "stale"))
    ensure()
    assert(builds == 4, "an index written by other code must be rebuilt")
    // persisted SideMeta round-trips (incl. the density statistic)
    val fresh = GeoEngine.sideMeta(diamonds(300), grid)
    assert(again.meta == fresh)
    // the snapshot carries the interval lists: a query over the loaded index
    // must NOT re-rasterize, and must equal the query over raw data
    assert(again.df.columns.contains("april_all"))
    val overIndex = GeoEngine.spatialJoin(points(2000), again.df.as[GeoRow],
      core.Predicates.INTERSECTS, grid, useApril = true, aprilOrder = 10,
      sMeta = Some(again.meta))
    assert(!overIndex.queryExecution.optimizedPlan.toString
      .contains("april_rasterize"))
    val overRaw = GeoEngine.spatialJoin(points(2000), diamonds(300),
      core.Predicates.INTERSECTS, grid, useApril = true, aprilOrder = 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(overIndex) == pairs(overRaw))
    // lists in the snapshot are bit-identical to a fresh rasterization
    val storedLists = again.df
      .select(col("id"), col("april_all"), col("april_full"))
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Long](1).toList, r.getSeq[Long](2).toList))).toMap
    val freshLists = GeoEngine.aprilIndex(diamonds(300).toDF(), grid, 10)
      .select(col("id"), col("april_all"), col("april_full"))
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Long](1).toList, r.getSeq[Long](2).toList))).toMap
    assert(storedLists == freshLists)
  }

  test("index build: one exchange feeds the commit, no clustering column") {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommand
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    // the shuffles an RDD's lineage depends on, by id
    def lineageShuffles(rdd: RDD[_]): Set[Int] = rdd.dependencies.flatMap {
      case d: ShuffleDependency[_, _, _] => lineageShuffles(d.rdd) + d.shuffleId
      case d => lineageShuffles(d.rdd)
    }.toSet
    // `p` and every operator below it, through adaptive plans, query stages
    // and cached relations
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }).flatMap(nodes)
    val root = freshRoot()
    val writes = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[DataWritingCommand] &&
            qe.logical.toString.contains(root)) writes.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // one partition: the shape of a compact single-file parquet input, which
    // the build widens once, before the rasterize and the write that counts
    // its metadata
    val ((built, commit), jobs) = try TestRows.jobsDuring(spark) {
      val b = graft.store.SpatialIndex.build(diamonds(2000).toDF().coalesce(1),
        grid, 10, root, "diamonds")
      (b, writes.poll(60, TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(commit != null, "no commit write observed")
    // two jobs, the exchange's map stage and the write: no metadata
    // aggregation, no inference on the load
    assert(jobs.size == 2 && jobs.count(_.startsWith("parquet at Snapshots.scala")) == 1,
      s"jobs beyond the commit's: $jobs")
    val plan = commit.executedPlan
    // no cached relation: none in the plan, none persisted behind its RDDs
    def persisted(rdd: RDD[_]): Boolean =
      rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        rdd.dependencies.exists(d => persisted(d.rdd))
    assert(!nodes(plan).exists {
      case _: InMemoryTableScanExec => true
      case r: RDDScanExec => persisted(r.rdd)
      case _ => false
    }, s"the build caches its input: $plan")
    // every shuffle feeding the commit: its Exchanges, and the shuffles
    // behind a scanned RDD (the commit counts its rows on the internal RDD)
    val shuffles = nodes(plan).collect {
      case _: Exchange => 1
      case r: RDDScanExec => lineageShuffles(r.rdd).size
    }.sum
    assert(shuffles == 1, plan.toString)
    // the rows are counted without a typed round trip to external Rows
    val typed = Seq("DeserializeToObject", "SerializeFromObject", "MapPartitions")
      .filter(n => nodes(plan).exists(_.nodeName.startsWith(n)))
    assert(typed.isEmpty, s"typed operators $typed in $plan")
    assert(!built.df.columns.contains("home_coarse"))
    assert(built.df.count() == 2000L)
    assert(built.meta == GeoEngine.sideMeta(diamonds(2000), grid))
  }

  test("GraftJob pipeline: kill/resume covers all five stages incl. index") {
    val root = freshRoot()
    val out1 = GraftJob.run(spark, root, nPages = 2000L)
    assert(out1.contains(""""pages":2000"""))
    assert(out1.contains(""""indexed":2000"""))
    // every stage, the index included, committed exactly one path snapshot
    // under the one root
    val stages = Seq("pages", "geotagged", "tiles", "polygons_idx", "joined")
    for (t <- stages)
      assert(Snapshots.latestId(root, t).contains(1L), s"stage $t")
    // "kill" after the index stage: drop the join snapshot, restart — the
    // first four stages (index included) must LOAD, only the join recomputes
    def deleteRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator().asScala.toList.foreach(deleteRec)
      java.nio.file.Files.delete(p)
    }
    deleteRec(java.nio.file.Paths.get(root, "joined"))
    val out2 = GraftJob.run(spark, root, nPages = 2000L)
    assert(out2 == out1,
      s"resumed run must reproduce the pipeline output\n$out1\n$out2")
    // resume did NOT bump any upstream snapshot id: a recomputed stage or a
    // rebuilt index would have committed snap 2
    for (t <- stages)
      assert(Snapshots.latestId(root, t).contains(1L), s"stage $t recomputed")
    // the joined stage genuinely read the stored index
    val joined = Snapshots.load(spark, root, "joined").get
    assert(joined.count() > 0)
  }
}
