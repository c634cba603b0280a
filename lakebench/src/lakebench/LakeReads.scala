package lakebench

import graft.lake.LakehouseTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File

/** `lake_reads`: SQL point, range, aggregate and time-travel queries
  * through the `graft` catalog against one identity(symbol)/day(ts)
  * table of many small appends with unfolded merge-on-read deletes.
  * Closed loop, one client; nothing commits in the timed region.
  */
final class LakeReads(c: Ctx) extends Workload(c) {
  import LakeReads._

  private var table: LakehouseTable = _
  private var tableName: String = _
  private var setups = 0
  /** (snapshot id, appends applied, delete batches applied) per commit. */
  private val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
  private val deletes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long)]]
  private val issued = scala.collection.mutable.ArrayBuffer.empty[Query]
  private var liveFiles = 1
  private var inputBytesSum = 0L
  // traced-op counters
  private var filesKept = 0L
  private var filesConsidered = 0L
  private var parses0 = 0L
  private var aggOps = 0L
  private var aggMetadataOnly = 0L
  private var scanFiles = 0L
  private var tracedOps = 0L
  private var pairedRun = false

  final case class Query(kind: String, sql: String, symbol: String, rangeUs: Option[(Long, Long)],
      version: Option[Int])

  private def sym(s: Int) = f"S$s%02d"
  private def dayStartUs(d: Int): Long = BaseUs + d * DayUs
  /** Tick timestamp of row k of symbol s's half-day batch h on day d. */
  private def tsUs(d: Int, h: Int, k: Long): Long = dayStartUs(d) + (2 * k + h) * (DayUs / (2 * Rows))
  private def tsLit(us: Long): String =
    s"TIMESTAMP '${java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(us / 1000000, (us % 1000000) * 1000))}'"

  /** The generator's rows of the first `appends` batches, computed from
    * the seed alone; the set-up writes them out as the table's input
    * files and the correctness check reads them back as the reference.
    */
  private def generated(appends: Int): DataFrame =
    spark.range(appends.toLong * Symbols * Rows).select(
      expr(s"cast(id div ${Symbols * Rows} as int)").as("a"),
      format_string("S%02d", expr(s"cast((id div $Rows) % $Symbols as int)")).as("symbol"),
      (col("id") % Rows).as("k"),
      round(lit(50.0) + pmod(xxhash64(lit(ctx.seed), col("id")), lit(100000L)) / 1000.0, 3).as("price"),
      pmod(xxhash64(lit(ctx.seed + 1), col("id")), lit(1000L)).as("qty"))
      .select(col("a"), col("symbol"),
        timestamp_micros(lit(BaseUs) + expr("a div 2") * DayUs +
          (col("k") * 2 + col("a") % 2) * (DayUs / (2 * Rows))).as("ts"),
        col("price"), col("qty"))

  override def setup(d: File): Unit = {
    setups += 1
    history.clear(); deletes.clear(); issued.clear()
    filesKept = 0L; filesConsidered = 0L; aggOps = 0L; aggMetadataOnly = 0L; scanFiles = 0L; tracedOps = 0L
    // every append batch as generated parquet files in the table's
    // partition layout, written in one job and imported one batch per commit
    val gen = new Path(d.getPath, "gen")
    generated(Appends)
      .withColumn("ts_day", expr("(year(ts) * 100 + month(ts)) * 100 + dayofmonth(ts)"))
      .repartition(Appends, col("a"), col("symbol"))
      .write.partitionBy("a", "symbol", "ts_day").parquet(gen.toString)
    inputBytesSum = ctx.bytesUnder(gen)
    tableName = s"graft.bench.ticks_$setups"
    table = LakehouseTable.createIfNotExists(spark, new Path(ctx.warehouse, s"bench/ticks_$setups"),
      generated(1).drop("a").schema, Seq("symbol" -> "identity", "ts" -> "day"))
    val fs = ctx.fs(gen)
    val rnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    (0 until Appends).foreach { a =>
      val batch = new Path(gen, s"a=$a")
      // basenames must be unique per table directory: prefix the batch
      val it = fs.listFiles(batch, true)
      val files = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) files += it.next().getPath
      files.filter(_.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f, new Path(f.getParent, s"b$a-${f.getName}")))
      history += ((table.addFiles(batch).id, a + 1, deletes.size))
      if ((a + 1) % DeleteEvery == 0) {
        val keys = (0 until DeleteKeys).map { _ =>
          val aa = rnd.nextInt(a + 1)
          (sym(rnd.nextInt(Symbols)), tsUs(aa / 2, aa % 2, rnd.nextLong(Rows)))
        }.distinct
        deletes += keys
        history += ((table.morDeleteKeys(keyFrame(keys), Seq("symbol", "ts")).id, a + 1, deletes.size))
      }
    }
    liveFiles = math.max(1, table.currentDataFiles.size)
  }

  override def warmup(): Unit =
    (0 until WarmupQueries).foreach(i => spark.sql(query(-1 - i).sql).collect())

  private def keyFrame(keys: Seq[(String, Long)]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(keys.map { case (s, us) => Row(s, new java.sql.Timestamp(us / 1000)) }: _*),
    StructType(Seq(StructField("symbol", StringType), StructField("ts", TimestampType))))

  private def query(i: Long): Query = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 7919 + i)
    // every block of ten ops has the exact mix, in a seeded order
    val kind = new scala.util.Random(ctx.seed * 131 + Math.floorDiv(i, Mix.size.toLong))
      .shuffle(Mix).apply(Math.floorMod(i, Mix.size.toLong).toInt)
    // hot symbols and recent days
    val s = sym((Symbols * math.pow(rnd.nextDouble(), 2)).toInt)
    val day = Days - 1 - (Days * math.pow(rnd.nextDouble(), 2)).toInt
    if (kind == "point") {
      val us = tsUs(day, rnd.nextInt(2), rnd.nextLong(Rows))
      Query("point", s"SELECT symbol, ts, price, qty FROM $tableName WHERE symbol = '$s' AND ts = ${tsLit(us)}",
        s, Some((us, us)), None)
    } else if (kind == "range") {
      val lo = dayStartUs(day) + rnd.nextInt(24) * HourUs
      Query("range", s"SELECT ts, price, qty FROM $tableName WHERE symbol = '$s' " +
        s"AND ts >= ${tsLit(lo)} AND ts < ${tsLit(lo + HourUs)}", s, Some((lo, lo + HourUs - 1)), None)
    } else if (kind == "agg_table") {
      Query("agg", s"SELECT count(*), min(ts), max(ts) FROM $tableName", "", None, None)
    } else if (kind == "agg_symbol") {
      Query("agg", s"SELECT count(*), min(ts), max(ts) FROM $tableName WHERE symbol = '$s'", s, None, None)
    } else {
      // the snapshot half way through the table's history
      val v = history.size / 2
      val tday = (history(v)._2 - 1) / 2 - rnd.nextInt(math.max(1, (history(v)._2 - 1) / 2 + 1))
      val lo = dayStartUs(math.max(0, tday))
      Query("timetravel", s"SELECT count(*), sum(qty), min(price) FROM $tableName VERSION AS OF ${history(v)._1} " +
        s"WHERE symbol = '$s' AND ts >= ${tsLit(lo)} AND ts < ${tsLit(lo + DayUs)}", s, Some((lo, lo + DayUs - 1)), Some(v))
    }
  }

  private def read(i: Long, traced: Boolean): OpRec = {
    // a traced run issues each query twice, once untraced and once traced
    val q = query(if (pairedRun) i / 2 else i)
    issued += q
    if (!traced) return timed(q.kind, i, traced)(spark.sql(q.sql).collect().length.toLong)
    val rec = timed(q.kind, i, traced) {
      val files = tracer.span("lake.plan") {
        table.filesForQuery(if (q.symbol.isEmpty) Map.empty else Map("symbol" -> q.symbol), q.rangeUs)
      }
      filesKept += files.size; filesConsidered += liveFiles
      val df = tracer.span("sql.call") {
        val df = spark.sql(q.sql)
        recordPhases(df, Seq("parsing", "analysis"))
        df
      }
      val n = tracer.span("spark.exec") {
        val n = df.collect().length
        recordPhases(df, Seq("optimization", "planning"))
        n
      }
      val scans = nodes(df.queryExecution.executedPlan).filter(p =>
        p.nodeName.contains("Scan") && !p.nodeName.contains("LocalTableScan"))
      if (q.kind == "agg") { aggOps += 1; if (scans.isEmpty) aggMetadataOnly += 1 }
      scans.foreach { p =>
        scanFiles += p.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }
      n.toLong
    }
    tracedOps += 1
    rec
  }

  /** Catalyst phases from Spark's own `QueryPlanningTracker`. */
  private def recordPhases(df: DataFrame, phases: Seq[String]): Unit = {
    val ph = df.queryExecution.tracker.phases
    phases.foreach { p =>
      ph.get(p).foreach(s => tracer.record(s"sql.$p", s.startTimeMs.toDouble, s.endTimeMs.toDouble))
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def run(seconds: Double, traced: Boolean): Seq[OpRec] = {
    parses0 = graft.lake.SnapshotLog.manifestParseCount.get()
    pairedRun = traced
    closedLoop(seconds, traced, TracedPairs, Mix.size)((i, on) => read(i, on))
  }

  /** Reference rows as of history entry `v`: the generator's own batches
    * minus the keys deleted by then, read with plain Spark.
    */
  private def reference(v: Int): DataFrame = {
    val (_, appends, dels) = history(v)
    val gone = deletes.take(dels).flatten.toSeq
    val base = generated(appends).drop("a")
    if (gone.isEmpty) base else base.join(keyFrame(gone), Seq("symbol", "ts"), "left_anti")
  }

  override def checks(): Seq[Check] = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 17 + 3)
    val byKind = issued.groupBy(_.kind)
    val sample = byKind.toSeq.sortBy(_._1).flatMap { case (_, qs) =>
      Seq.fill(math.min(qs.size, CheckPerKind))(qs(rnd.nextInt(qs.size))).distinct
    }
    sample.map { q =>
      val v = q.version.getOrElse(history.size - 1)
      reference(v).createOrReplaceTempView("lakebench_ref")
      val refSql = q.sql.replace(tableName, "lakebench_ref")
        .replaceAll(" VERSION AS OF \\d+", "")
      def rows(sql: String) = spark.sql(sql).collect().map(_.toString).sorted.toSeq
      val (got, want) = (rows(q.sql), rows(refSql))
      Check(s"${q.kind} query matches plain Spark", got == want,
        s"${q.sql.take(160)} got=${got.take(2)} want=${want.take(2)}")
    }.toSeq
  }

  override def inputBytes: Long = inputBytesSum
  override def storedBytes: Long = ctx.bytesUnder(table.tableDir)

  override def counters: Map[String, Double] = Map(
    "lake.files_kept_frac" -> (if (filesConsidered == 0) 0.0 else filesKept.toDouble / filesConsidered),
    "lake.manifests_parsed" -> (graft.lake.SnapshotLog.manifestParseCount.get() - parses0).toDouble,
    "lake.planning_cache_entries" -> graft.lake.SnapshotLog.planningCacheStats._1.toDouble,
    "lake.delete_files_live" -> table.metadata.currentSnapshot.map(s => table.liveDeleteFiles(s).size).getOrElse(0).toDouble,
    "lake.metadata_bytes" -> ctx.metadataBytes(table.tableDir).toDouble,
    "sql.metadata_answered_frac" -> (if (aggOps == 0) 0.0 else aggMetadataOnly.toDouble / aggOps),
    "spark.scan_files" -> (if (tracedOps == 0) 0.0 else scanFiles.toDouble / tracedOps))
}

object LakeReads {
  val Symbols = 8
  val Days = 2
  val Appends = 2 * Days // two half-day batches per day, every symbol in each
  val Rows = 500L  // ticks per symbol per batch
  val DeleteEvery = 2
  val DeleteKeys = 50
  val WarmupQueries = 40
  val TracedPairs = 10
  val CheckPerKind = 1
  /** Op mix per block of ten: 40% point, 30% range, 20% aggregate (one
    * whole-table, one per symbol), 10% time travel. Fixed per block so a
    * seed changes which keys are read, not how much work a block does.
    */
  val Mix: Seq[String] =
    Seq.fill(4)("point") ++ Seq.fill(3)("range") ++ Seq("agg_table", "agg_symbol", "timetravel")
  val BaseUs: Long = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli * 1000L
  val DayUs: Long = 86400L * 1000000L
  val HourUs: Long = 3600L * 1000000L
}
