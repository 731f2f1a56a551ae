package graft.store

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import java.nio.charset.StandardCharsets

/**
 * Snapshot store: Iceberg-style committed snapshots over parquet with
 * per-partition lineage + metrics, and stage-level resume.
 *
 * (No Iceberg jar ships in this offline image, so this implements the same
 * contract the north rule asks of Iceberg checkpoints: atomic snapshot
 * commits, a manifest carrying lineage + per-partition row counts, and
 * `runStage` resuming any stage from its last committed snapshot without
 * recomputation.)
 *
 * Layout:
 *   <root>/<table>/snap-<id>/data/part-*.parquet    (the data)
 *   <root>/<table>/snap-<id>/MANIFEST.json          (lineage + metrics)
 *   <root>/<table>/LATEST                           (atomic pointer, rename-commit)
 *
 * Commit protocol: write data to the snapshot dir, write MANIFEST, then
 * atomically rename a temp pointer onto LATEST. A crash at any earlier point
 * leaves LATEST pointing at the previous snapshot — uncommitted snapshot
 * dirs are simply ignored (and can be GC'd).
 */
object Snapshots {

  final case class PartitionMetric(partition: Int, rows: Long)
  final case class Manifest(table: String, snapshotId: Long, committedAtMs: Long,
                            lineage: Map[String, String],
                            partitions: Seq[PartitionMetric], totalRows: Long)

  /** Commit a DataFrame as the next snapshot of `table`. One pass over the
    * data: per-partition row counts are collected while writing. */
  def commit(df: DataFrame, root: String, table: String,
             lineage: Map[String, String] = Map.empty): Manifest = {
    val spark = df.sparkSession
    val tableDir = Paths.get(root, table)
    Files.createDirectories(tableDir)
    val snapId = latestId(root, table).getOrElse(0L) + 1L
    val snapDir = tableDir.resolve(f"snap-$snapId%05d")
    val dataDir = snapDir.resolve("data")

    // per-partition row metrics via an accumulator, collected in the same
    // pass that writes the data, counted on the internal rows
    val acc = spark.sparkContext.collectionAccumulator[(Int, Long)]("graft.partRows")
    val counted = GraftColumnBridge.mapInternalPartitions(df) { (part, it) =>
      var n = 0L
      new Iterator[InternalRow] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h) acc.add((part, n))
          h
        }
        def next(): InternalRow = { n += 1; it.next() }
      }
    }

    counted.write.mode("overwrite").parquet(dataDir.toString)

    val parts = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
      .toSeq.map(t => PartitionMetric(t._1, t._2))
      .groupBy(_.partition)
      .map { case (p, ms) => PartitionMetric(p, ms.map(_.rows).max) }
      .toSeq.sortBy(_.partition)
    val manifest = Manifest(table, snapId, System.currentTimeMillis(), lineage,
      parts, parts.map(_.rows).sum)
    Files.writeString(snapDir.resolve("MANIFEST.json"), manifestJson(manifest))

    // atomic pointer swap
    val tmp = tableDir.resolve(s".LATEST.tmp.$snapId")
    Files.writeString(tmp, snapId.toString)
    Files.move(tmp, tableDir.resolve("LATEST"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    manifest
  }

  /** Id of the last committed snapshot, if any. */
  def latestId(root: String, table: String): Option[Long] = {
    val p = Paths.get(root, table, "LATEST")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Load the latest committed snapshot of `table`. */
  def load(spark: SparkSession, root: String, table: String): Option[DataFrame] =
    latestId(root, table).map { id =>
      spark.read.parquet(Paths.get(root, table, f"snap-$id%05d", "data").toString)
    }

  /** Read the manifest of the latest snapshot. */
  def latestManifest(root: String, table: String): Option[String] =
    latestId(root, table).map { id =>
      Files.readString(Paths.get(root, table, f"snap-$id%05d", "MANIFEST.json"))
    }

  /**
   * Stage runner with resume: if `table` already has a committed snapshot,
   * return it WITHOUT invoking `compute` — a restarted job resumes from the
   * last committed checkpoint. Otherwise compute, commit, and return the
   * committed data.
   */
  def runStage(spark: SparkSession, root: String, table: String,
               lineage: Map[String, String] = Map.empty)
              (compute: => DataFrame): DataFrame =
    load(spark, root, table).getOrElse {
      commit(compute, root, table, lineage)
      load(spark, root, table).get
    }

  // minimal JSON writer (no extra deps)
  private def manifestJson(m: Manifest): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val lineage = m.lineage.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val parts = m.partitions.map(p => s"""{"partition":${p.partition},"rows":${p.rows}}""")
      .mkString("[", ",", "]")
    s"""{"table":${q(m.table)},"snapshot_id":${m.snapshotId},""" +
      s""""committed_at_ms":${m.committedAtMs},"lineage":$lineage,""" +
      s""""total_rows":${m.totalRows},"partitions":$parts}"""
  }
}
