package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GridConfig

/**
 * Structured Streaming over geotagged event streams: the batch tile math
 * reused unchanged on an unbounded source (the reference has no streaming;
 * this is part of the engine's training-data-pipeline surface).
 *
 * Events are geotagged deterministically from user_id (the streaming
 * analogue of the url/text geotagger), assigned their fine/coarse tile with
 * the same codegen column expressions as the batch path, then aggregated
 * into event-time windows with a watermark for state cleanup.
 */
object StreamOps {

  /** Deterministic user geotag (same integer-derivation style as the batch
    * oracle queries — SQL-checkable in batch mode). */
  def geotagEvents(events: DataFrame): DataFrame =
    events
      // event-time watermarks require TIMESTAMP (testdata ships NTZ)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("x", (col("user_id") * 7 % 3600) / 10.0 - 180.0)
      .withColumn("y", (col("user_id") * 11 % 1700) / 10.0 - 85.0)

  /** Add fine + coarse tile columns (pure column expressions, codegen). */
  def withTileColumns(df: DataFrame, grid: GridConfig): DataFrame = {
    val (tile, coarseTile) = graft.GeoEngine.pointTiles(grid, col("x"), col("y"))
    df.withColumn("tile", tile).withColumn("coarse_tile", coarseTile)
  }

  /** A closed user session: contiguous events with gaps < the timeout. */
  final case class UserSession(user_id: Long, n_events: Int,
                               start_ms: Long, end_ms: Long, tiles: Int)

  /** Mutable-session accumulator (Seq, not Set — Set has no Spark encoder). */
  final case class SessionState(n: Int, startMs: Long, lastMs: Long,
                                tiles: Seq[Long])

  /**
   * Stateful sessionization via flatMapGroupsWithState: per-user sessions
   * close after `gapMs` of event-time inactivity; each closed session
   * reports its event count, span, and distinct-tile count. The custom-state
   * path of the streaming surface (KeyValueGroupedDataset + GroupState).
   */
  def sessionize(events: DataFrame, grid: GridConfig,
                 gapMs: Long = 30 * 60 * 1000L,
                 watermarkDelay: String = "10 minutes"): org.apache.spark.sql.Dataset[UserSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val tagged0 = withTileColumns(geotagEvents(events), grid)
    // streaming sessions close on EVENT-time inactivity: the watermark (not
    // wall-clock drift) drives state timeouts, so stream results match the
    // batch/oracle gap semantics exactly
    val taggedW =
      if (tagged0.isStreaming) tagged0.withWatermark("ts", watermarkDelay)
      else tagged0
    // the watermarked `ts` attribute itself must survive into the stateful
    // operator's child plan (a cast drops the watermark tag), so it rides
    // along as an unused 4th field
    val tagged = taggedW
      .select(col("user_id"), col("ts").cast("long").as("ts_s"), col("tile"),
        col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]

    val streamingMode = tagged.isStreaming // plain boolean: safe to close over

    def fn(user: Long, it: Iterator[(Long, Long, Long, java.sql.Timestamp)],
           state: GroupState[SessionState]): Iterator[UserSession] = {
      val sorted = it.toSeq.sortBy(_._2)
      var st = state.getOption.getOrElse(SessionState(0, -1L, -1L, Seq.empty))
      val closed = scala.collection.mutable.ArrayBuffer.empty[UserSession]
      sorted.foreach { case (_, tsS, tile, _) =>
        val ms = tsS * 1000L
        if (st.n > 0 && ms - st.lastMs > gapMs) {
          closed += UserSession(user, st.n, st.startMs, st.lastMs, st.tiles.size)
          st = SessionState(0, -1L, -1L, Seq.empty)
        }
        // cross-batch disorder (an above-watermark event arriving in a later
        // micro-batch with ms < state bounds) EXTENDS the open session rather
        // than regressing it: lastMs/startMs are monotone max/min. A late
        // event that lands inside an ALREADY-CLOSED session's span cannot
        // reopen it (append-mode output is immutable) — the watermark delay
        // bounds that window, same contract as Spark's own session windows.
        st =
          if (st.n == 0) SessionState(1, ms, ms, Seq(tile))
          else SessionState(st.n + 1, math.min(st.startMs, ms),
            math.max(st.lastMs, ms),
            if (st.tiles.contains(tile)) st.tiles else st.tiles :+ tile)
      }
      if (state.hasTimedOut) {
        // event-time timeout: the watermark passed lastMs + gapMs, so the
        // open session's gap has provably elapsed in event time
        if (st.n > 0) closed += UserSession(user, st.n, st.startMs, st.lastMs, st.tiles.size)
        state.remove()
      } else {
        state.update(st)
        if (state.getOption.isDefined && streamingMode)
          state.setTimeoutTimestamp(
            math.max(st.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
      }
      closed.iterator
    }

    if (tagged.isStreaming)
      tagged.groupByKey(_._1).flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
    else {
      // batch mode: same core logic, sessions flushed at end of input
      tagged.groupByKey(_._1).flatMapGroups { (user, it) =>
        val sorted = it.toSeq.sortBy(_._2)
        val out = scala.collection.mutable.ArrayBuffer.empty[UserSession]
        var st = SessionState(0, -1L, -1L, Seq.empty)
        sorted.foreach { case (_, tsS, tile, _) =>
          val ms = tsS * 1000L
          if (st.n > 0 && ms - st.lastMs > gapMs) {
            out += UserSession(user, st.n, st.startMs, st.lastMs, st.tiles.size)
            st = SessionState(0, -1L, -1L, Seq.empty)
          }
          st =
            if (st.n == 0) SessionState(1, ms, ms, Seq(tile))
            else SessionState(st.n + 1, st.startMs, ms, if (st.tiles.contains(tile)) st.tiles else st.tiles :+ tile)
        }
        if (st.n > 0) out += UserSession(user, st.n, st.startMs, st.lastMs, st.tiles.size)
        out.iterator
      }
    }
  }

  /**
   * Stream-static spatial join: tag a geotagged event stream with the static
   * region(s) each event falls in — the tile engine inside a stream. The
   * event's single home tile equi-joins the static side's exploded tile
   * cover (a stream-static equi-join, natively supported by Structured
   * Streaming: the static side plans once and broadcasts/reuses across
   * micro-batches; no state, no watermark needed). Exactly-once per
   * (event, region): a point sits in one tile, and the region's cover
   * contains that tile at most once.
   *
   * `regions`: static DataFrame with (region_id, xmin, ymin, xmax, ymax).
   * Works identically on a batch events DataFrame (the oracle path).
   */
  def regionTag(events: DataFrame, regions: DataFrame, grid: GridConfig): DataFrame = {
    val tagged = withTileColumns(geotagEvents(events), grid)
    val cover = graft.GeoEngine.withTiles2(
      regions.select(col("region_id"), lit(graft.core.GeomType.BOX).as("gtype"),
        col("xmin"), col("ymin"), col("xmax"), col("ymax")), grid)
      .select(col("tile"), col("region_id"),
        col("xmin").as("rxmin"), col("ymin").as("rymin"),
        col("xmax").as("rxmax"), col("ymax").as("rymax"))
    tagged.join(cover, Seq("tile"))
      .where(col("x") >= col("rxmin") && col("x") <= col("rxmax") &&
        col("y") >= col("rymin") && col("y") <= col("rymax"))
      .drop("rxmin", "rymin", "rxmax", "rymax")
  }

  /**
   * Windowed per-coarse-tile aggregation with watermarking: counts + value
   * sums per (event-time window, coarse tile). Works identically on a
   * streaming or batch DataFrame — the streaming test drives it with
   * readStream, the batch oracle with read.
   */
  def tileWindowCounts(events: DataFrame, grid: GridConfig,
                       windowLen: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame = {
    val tagged = withTileColumns(geotagEvents(events), grid)
    val wm = if (tagged.isStreaming) tagged.withWatermark("ts", watermark) else tagged
    wm.groupBy(window(col("ts"), windowLen), col("coarse_tile"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("coarse_tile"),
        col("n"), col("total_value"))
  }

  /**
   * In-flight exact dedup of a document stream by content hash — the
   * standard crawl-ingest guard: a page seen again within the revisit
   * horizon is dropped before it ever reaches storage. Streaming mode uses
   * `dropDuplicatesWithinWatermark`, so the seen-hash state is BOUNDED: a
   * hash's dedup state expires `delay` after its event time passes the
   * watermark (unbounded dropDuplicates state is what dies first on an
   * endless crawl). Emits the first-ARRIVING row per hash.
   *
   * Batch mode keeps the same distinct-by-hash semantics with the
   * deterministic canonical keeper (min doc_id) — the oracle-checkable
   * shape, matching TextOps.exactDedup's contract. The SHARED guarantee
   * across modes is the distinct-hash SET (one surviving row per content
   * hash — what the stream==batch test pins); WHICH duplicate survives is
   * mode-specific by design: arrival order in a stream, min doc_id in
   * batch. Downstream consumers that need a canonical keeper re-keep by
   * min doc_id in a batch compaction pass.
   */
  def dedupDocs(docs: DataFrame, tsCol: String = "ts",
                delay: String = "1 hour"): DataFrame = {
    val withH = docs.withColumn("h", md5(col("text").cast("binary")))
    if (withH.isStreaming)
      withH.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark("h")
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy(col("doc_id"))
      withH.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
    }
  }
}
