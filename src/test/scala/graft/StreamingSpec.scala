package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps
import graft.web.Pages

/** Streaming tile aggregation: the streaming query over the events parquet
  * must produce exactly the batch result (same grid, same windows). */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming windowed tile counts == batch result on the same data") {
    val grid = Pages.WorldGrid
    val dir = "/root/testdata/sf0.001"
    val batchDf = spark.read.parquet(s"$dir/events.parquet")
    val batchResult = StreamOps.tileWindowCounts(batchDf, grid).collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batchResult.nonEmpty)

    // file stream source needs a directory; stage the parquet into one
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val streaming = StreamOps.tileWindowCounts(
      spark.readStream.schema(batchDf.schema).parquet(streamDir.toString),
      grid)
    val q = streaming.writeStream
      .outputMode("complete")
      .format("memory").queryName("tile_counts")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamResult = spark.table("tile_counts").collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamResult == batchResult,
      s"stream=${streamResult.size} rows, batch=${batchResult.size} rows")
  }

  test("sessionize: batch sessions have consistent counts and spans") {
    val grid = Pages.WorldGrid
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sessions = StreamOps.sessionize(events, grid).collect()
    assert(sessions.nonEmpty)
    // every event lands in exactly one session
    assert(sessions.map(_.n_events.toLong).sum == events.count())
    assert(sessions.forall(s => s.end_ms >= s.start_ms && s.tiles >= 1))
    // deterministic across runs
    val again = StreamOps.sessionize(events, grid).collect()
    assert(sessions.map(s => (s.user_id, s.start_ms, s.n_events)).toSet ==
           again.map(s => (s.user_id, s.start_ms, s.n_events)).toSet)
  }

  test("stream-static spatial region tagging == batch result") {
    import org.apache.spark.sql.functions._
    val grid = Pages.WorldGrid
    val dir = "/root/testdata/sf0.001"
    val batchDf = spark.read.parquet(s"$dir/events.parquet")
    val regions = spark.range(12).select(
      col("id").as("region_id"),
      ((col("id") * 29 % 2800) / 8.0 - 175.0 - 3.0).as("xmin"),
      ((col("id") * 31 % 1280) / 8.0 - 80.0 - 2.5).as("ymin"),
      ((col("id") * 29 % 2800) / 8.0 - 175.0 + 3.0).as("xmax"),
      ((col("id") * 31 % 1280) / 8.0 - 80.0 + 2.5).as("ymax"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      StreamOps.regionTag(df, regions, grid)
        .select(col("event_id"), col("region_id"))
    val batch = shape(batchDf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_regtag")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val q = shape(spark.readStream.schema(batchDf.schema).parquet(streamDir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("region_tag")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("region_tag").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    // integer-, long- and float-typed region bounds tag as their double values
    val whole = regions.select(col("region_id"), floor(col("xmin")).as("xmin"),
      floor(col("ymin")).as("ymin"), ceil(col("xmax")).as("xmax"),
      ceil(col("ymax")).as("ymax"))
    def tags(r: org.apache.spark.sql.DataFrame) =
      StreamOps.regionTag(batchDf, r, grid).select(col("event_id"), col("region_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def typed(t: String) = whole.select(col("region_id") +:
      Seq("xmin", "ymin", "xmax", "ymax").map(c => col(c).cast(t).as(c)): _*)
    val asDouble = tags(typed("double"))
    assert(asDouble.nonEmpty)
    for (t <- Seq("int", "long", "float"))
      assert(tags(typed(t)) == asDouble, s"$t-typed region bounds")
  }

  test("sessionize: above-watermark disorder across micro-batches extends, " +
      "never regresses, the open session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val grid = Pages.WorldGrid
    val t0 = 1600000000L
    val ms = MemoryStream[(Long, Long)]
    val df = ms.toDS().toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = StreamOps.sessionize(df, grid, watermarkDelay = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("disorder_sessions").start()
    // batch 1: user 1 at t0 and t0+10min
    ms.addData((1L, t0), (1L, t0 + 600))
    q.processAllAvailable()
    // batch 2: an OUT-OF-ORDER user-1 event at t0+5min (before the state's
    // lastMs, above the watermark) + a watermark-driver user far ahead
    ms.addData((1L, t0 + 300), (99L, t0 + 14400))
    q.processAllAvailable()
    // batch 3: push the watermark again so user 1's timeout actually fires
    ms.addData((99L, t0 + 18000))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("disorder_sessions").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 == 1L)
    // the disorder event joined its session: 3 events, span [t0, t0+600] —
    // NOT a session ending at the late event's t0+300
    assert(closed.toSeq == Seq((1L, 3, t0 * 1000L, (t0 + 600) * 1000L)),
      s"got ${closed.toSeq}")
  }

  test("sessionize streaming (event-time timeout) == batch closed sessions") {
    val grid = Pages.WorldGrid
    val batchDf = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // a far-future sentinel event (its own user) pushes the event-time
    // watermark beyond every real session's end + gap, so EVERY real
    // session times out and is emitted — closed-set EQUALITY, not subset
    val sentinelUser = -1L
    val sentinel = batchDf.sparkSession.sql(
      "SELECT CAST(-1 AS BIGINT) AS event_id, " +
        "TIMESTAMP_NTZ '2031-01-01 00:00:00' AS ts, " +
        s"CAST($sentinelUser AS BIGINT) AS user_id, " +
        "'sentinel' AS event_type, CAST(0.0 AS DOUBLE) AS value, '' AS props")
      .select(batchDf.columns.map(col): _*)
    val withSentinel = batchDf.unionByName(sentinel)
    val dir = java.nio.file.Files.createTempDirectory("graft_sess")
    withSentinel.coalesce(1).write.parquet(dir.resolve("in").toString)
    val sessions = StreamOps.sessionize(
      spark.readStream.schema(batchDf.schema).parquet(dir.resolve("in").toString), grid)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 != sentinelUser).toSet
    val batch = StreamOps.sessionize(batchDf, grid).collect()
      .map(s => (s.user_id, s.n_events, s.start_ms, s.end_ms)).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size} closed sessions")
    assert(streamed.nonEmpty)
  }

  test("streaming dedup: distinct hashes == batch; duplicates dropped in-flight") {
    import spark.implicits._
    // 120 docs, every third a duplicate of doc 0 — planted cross-batch dupes
    val docs = (0L until 120L).map { i =>
      val text = if (i % 3 == 0) "duplicated boilerplate page" else s"unique page $i"
      (i, text, java.sql.Timestamp.valueOf(s"2026-01-01 00:${10 + (i / 60)}:${i % 60}"))
    }
    val batchDf = docs.toDF("doc_id", "text", "ts")
    val batchOut = StreamOps.dedupDocs(batchDf)
    // batch keeper is the canonical min doc_id
    assert(batchOut.count() == 80 + 1)
    assert(batchOut.where(col("text") === "duplicated boilerplate page")
      .head().getLong(0) == 0L)
    val batchHashes = batchOut.select("h").collect().map(_.getString(0)).toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream")
    batchDf.coalesce(1).write.parquet(dir.resolve("in").toString)
    val streamOut = StreamOps.dedupDocs(
      spark.readStream.schema(batchDf.schema).parquet(dir.resolve("in").toString))
    val q = streamOut.writeStream.outputMode("append")
      .format("memory").queryName("dedup_docs")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_docs")
    assert(streamed.select("h").collect().map(_.getString(0)).toSet == batchHashes,
      "stream must emit exactly one row per distinct content hash")
    assert(streamed.count() == 81)
  }
}
