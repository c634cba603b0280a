package lakebench

import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import scala.collection.mutable

/** A `graft-table` change-feed stream mirroring `src` into a `cdcApply`
  * sink at `dstDir`: the stream and the table as two views of one
  * changing relation. Records when each source snapshot became part of
  * the mirror's committed state (the end of the trigger that carried it),
  * from Spark's own streaming progress.
  */
final class Mirror(ctx: Ctx, val src: LakehouseTable, dstDir: Path, key: String, checkpoint: String) {
  import Mirror._

  private val spark = ctx.spark
  val dst: LakehouseTable =
    LakehouseTable.createIfNotExists(spark, dstDir,
      org.apache.spark.sql.types.StructType.fromDDL(src.metadata.schemaDdl), None)
  private var query: StreamingQuery = _
  /** (end of trigger in epoch ms, source snapshot the mirror now includes). */
  private val mirrored = mutable.ArrayBuffer.empty[(Double, Long)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (query != null && p.id == query.id) {
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution")
        val sid = p.sources.headOption.flatMap(s => Option(s.endOffset))
          .map(o => o.replace("\"", "").split("#")(0).trim.toLong)
        Mirror.this.synchronized {
          progress += p
          sid.foreach(s => mirrored += ((end, s)))
        }
      }
    }
  }

  /** Starts the stream and waits until the source's image is mirrored. */
  def start(): Unit = {
    spark.streams.addListener(listener)
    query = spark.readStream.format("graft-table")
      .option("path", src.tableDir.toString).option("changeFeed", "true").load()
      .writeStream.format("graft-table")
      .option("path", dst.tableDir.toString).option("queryId", "lakebench-mirror")
      .option("cdcApply", "true").option("keys", key)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    query.processAllAvailable()
  }

  /** Commit time of source snapshot `sid` (epoch ms, from the table's log). */
  def committedAt(sid: Long): Double =
    src.metadata.snapshots.find(_.id == sid).map(_.timestampMs.toDouble).getOrElse(Double.NaN)

  def latestSource: Long = src.metadata.currentSnapshot.map(_.id).getOrElse(0L)
  def frontier: Long = synchronized(mirrored.lastOption.map(_._2).getOrElse(0L))
  def progressCount: Int = synchronized(progress.size)

  def mirroredAt(sid: Long): Option[Double] = synchronized {
    mirrored.collectFirst { case (t, s) if s >= sid => t }
  }

  /** Waits until snapshot `sid` is mirrored (or the timeout passes). */
  def await(sid: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (mirroredAt(sid).isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Trigger counters over the progress events after index `from`. */
  def stats(from: Int, commitsBefore: Double): Map[String, Double] = {
    val ps = synchronized(progress.drop(from).toList)
    val n = math.max(1, ps.size).toDouble
    Map(
      "stream.trigger_ms" -> ps.map(dur(_, "triggerExecution")).sum / n,
      "stream.planning_ms" -> ps.map(p => dur(p, "latestOffset") + dur(p, "getBatch") +
        dur(p, "queryPlanning")).sum / n,
      "stream.commit_ms" ->
        (graft.lake.CommitMetrics.totalSec(dst.tableDir.toString) - commitsBefore) * 1000 / n,
      "stream.triggers" -> ps.size.toDouble,
      "stream.empty_trigger_frac" -> ps.count(_.numInputRows == 0) / n)
  }

  def check(): Check = {
    val cols = dst.read().columns.sorted.map(col).toIndexedSeq
    def digest(t: LakehouseTable) = t.read()
      .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string"))
      .head()
    val (a, b) = (digest(src), digest(dst))
    Check("mirror equals its source by key and value hash", a == b, s"source=$a mirror=$b")
  }

  def stop(): Unit = {
    if (query != null) { query.stop(); query = null }
    spark.streams.removeListener(listener)
  }
}

object Mirror {
  val TriggerMs = 100L

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}
