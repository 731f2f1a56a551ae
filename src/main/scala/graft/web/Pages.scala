package graft.web

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core._
import graft.functions.GeoExprs

/** A Common-Crawl-style web page row (BASELINE.json input_hint schema). */
final case class Page(url: String, warc_ts: java.sql.Timestamp,
                      html: Array[Byte], text: String, lang: String)

/**
 * Synthetic web-page corpus + deterministic geotagger.
 *
 * The north rule's input is an Iceberg table of pages
 * (url, warc_ts, html, text, lang) at 10^12 scale; here we synthesize a
 * deterministic, seed-fixed slice with `spark.range` (so generation is
 * distributed and reproducible at any scale factor), geotag each page from
 * its url/text, and emit Dataset[TileAssignment]. The per-row invariant —
 * byte-identical `text` per url — is asserted by PagesSpec after the full
 * pipeline.
 */
object Pages {

  private val Langs = Array("en", "de", "fr", "es", "it")
  private val Words = Array(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "data",
    "spark", "tile", "grid", "join", "page", "crawl", "web", "index", "query",
    "der", "die", "und", "le", "la", "les", "el", "los", "il", "che")

  /** Deterministic text for a page id: same id → same bytes, always. */
  def textFor(id: Long): String = {
    val sb = new StringBuilder(256)
    var h = mix(id)
    val n = 40 + (Math.floorMod(h, 160L)).toInt
    var i = 0
    while (i < n) {
      h = mix(h + i)
      sb.append(Words(Math.floorMod(h, Words.length.toLong).toInt))
      sb.append(if (i % 13 == 12) ". " else " ")
      i += 1
    }
    sb.toString.trim
  }

  @inline private def mix(v: Long): Long = {
    var h = v * 0x9e3779b97f4a7c15L
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
    h
  }

  /** Deterministic url for a page id. */
  def urlFor(id: Long): String =
    s"https://site-${Math.floorMod(mix(id), 10000L)}.example/page/${id}"

  // the per-id kernels `synthesize` binds as codegen calls (GeoExprs)
  def urlUtf8(id: Long): UTF8String = UTF8String.fromString(urlFor(id))
  def textUtf8(id: Long): UTF8String = UTF8String.fromString(textFor(id))
  def langUtf8(id: Long): UTF8String =
    UTF8String.fromString(Langs(Math.floorMod(mix(id + 7), Langs.length.toLong).toInt))
  def warcMillis(id: Long): Long =
    1600000000000L + Math.floorMod(mix(id + 3), 100000000L)

  /** Generate `n` synthetic pages over spark.range, as codegen kernel calls
    * (no Page object per row): a consumer that selects only some fields
    * computes only those, since column pruning drops the rest. */
  def synthesize(spark: SparkSession, n: Long): Dataset[Page] = {
    import spark.implicits._
    val id = col("id")
    val text = GeoExprs.pageText(id)
    spark.range(n).select(
      GeoExprs.pageUrl(id).as("url"),
      timestamp_millis(GeoExprs.pageWarcMillis(id)).as("warc_ts"),
      concat(lit("<html><body>"), text, lit("</body></html>")).cast("binary").as("html"),
      text.as("text"),
      GeoExprs.pageLang(id).as("lang")).as[Page]
  }

  /** Deterministic geotag from url+text: FNV64 of the url picks the
    * longitude band, a text fingerprint the latitude — stable per url.
    * Pure column expressions over the codegen [[graft.functions.Fnv64]]
    * (pmod ≡ Math.floorMod for a positive modulus; substring counts
    * characters like String.take on this ASCII corpus) — no ScalaUDF in the
    * headline tile-assign path. */
  def geotag(pages: DataFrame): DataFrame = {
    val lon = pmod(GeoExprs.fnv64(col("url")), lit(3600000L)) / 10000.0 - 180.0
    val lat = pmod(GeoExprs.fnv64(
      concat(col("url"), lit("|"), substring(col("text"), 1, 64))),
      lit(1700000L)) / 10000.0 - 85.0
    pages.withColumn("x", lon).withColumn("y", lat)
  }

  /** World grid used for web-scale tiling (fixed bounds → no dataspace scan
    * needed at 10^12 rows; EPS-padded like the reference). */
  val WorldGrid: GridConfig = GridConfig.fromDataBounds(-180.0, -90.0, 180.0, 90.0)

  /** Full pipeline: pages → geotag → Dataset[TileAssignment] on the world
    * grid with H3-style hex cells. */
  def tileAssignments(spark: SparkSession, pages: DataFrame, hexRes: Int = 7): Dataset[graft.TileAssignment] = {
    val tagged = geotag(pages).withColumn("id", GeoExprs.fnv64(col("url")))
    graft.GeoEngine.tileAssignments(tagged, WorldGrid, hexRes)
  }
}
