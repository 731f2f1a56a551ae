package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, isnan, lit, when}

/** Row builders and probes shared by the engine specs. */
object TestRows {
  /** `rows` with every NaN MBR field made null. GeoRow's fields are
    * primitive, so the nulls live only in the columns — all the engine
    * reads. */
  def nulled(rows: Dataset[GeoRow]): Dataset[GeoRow] =
    rows.select(col("id") +: col("gtype") +: col("coords") +:
      Seq("xmin", "ymin", "xmax", "ymax").map(f =>
        when(isnan(col(f)), lit(null)).otherwise(col(f)).as(f)): _*)
      .as[GeoRow](rows.encoder)

  /** `f`'s result and the call site (`<action> at <file>:<line>`) of every
    * Spark job it launched, in start order. A listener records job starts
    * between two marked sentinel jobs: the bus delivers events in order, so
    * once the second sentinel's start arrives every job launched by `f` has
    * been recorded, and none launched before it is. */
  def jobsDuring[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val sentinels = new Semaphore(0)
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.sentinel") != null)
          sentinels.release()
        else jobs.add(e.stageInfos.maxBy(_.stageId).name)
    }
    def sentinel(): Unit = {
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      assert(sentinels.tryAcquire(60, TimeUnit.SECONDS), "listener bus stalled")
    }
    sc.addSparkListener(listener)
    try {
      sentinel()
      jobs.clear()
      val out = f
      sentinel()
      (out, scala.jdk.CollectionConverters.IteratorHasAsScala(jobs.iterator).asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
