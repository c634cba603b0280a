package lakebench

import graft.ingest._
import graft.lake.LakehouseCatalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import java.io.File

/** `ingest_drops`: the reference's own job, with a downstream change-feed
  * consumer. Each op drops one new tick file for each of two symbols and
  * calls `IngestPipeline.run` over the whole data root with the reference
  * defaults. Closed loop, one client. One symbol's table (S00, written by
  * every op) is mirrored by a `graft-table` change-feed stream into a
  * `cdcApply` sink that runs beside the ingest.
  */
final class IngestDrops(c: Ctx) extends Workload(c) {
  import IngestDrops._

  private var dir: File = _
  private def dataRoot = new Path(dir.getPath, "data")
  private def wh = new Path(dir.getPath, "wh")
  private val cfg = () => IngestConfig(wh.toString)
  private var nextFile = 0L
  private val cursor = Array.fill(Symbols)(0L)
  /** Per symbol, the key-grid slot ranges [from, until) of QC-passing files. */
  private val passing = scala.collection.mutable.Map.empty[Int, Vector[(Long, Long)]]
  private var inputBytesSum = 0L
  private var opsRun = 0L
  private var auditRunsAtStart = 0
  private var rowsAtStart = 0L
  // traced-op counters
  private var rowsRead = 0L
  private var rowsKept = 0L
  private var filesRejected = 0L
  private var tracedCommits = 0L
  private var tracedAddedFiles = 0L
  private var mirror: Mirror = _
  private var streamStats = Map.empty[String, Double]

  private val schema = StructType(Seq(
    StructField("DateTime", TimestampType), StructField("Bid", DoubleType),
    StructField("Ask", DoubleType)))

  private def sym(s: Int) = f"S$s%02d"
  private def keyUs(slot: Long): Long = BaseUs + slot * StepUs

  override def setup(d: File): Unit = {
    close()
    dir = d
    nextFile = 0L; opsRun = 0L; inputBytesSum = 0L
    rowsRead = 0L; rowsKept = 0L; filesRejected = 0L; tracedCommits = 0L; tracedAddedFiles = 0L
    java.util.Arrays.fill(cursor, HistDrops.toLong * Rows)
    passing.clear()
    val tmp = new Path(d.getPath, "gen")
    // history: HistDrops files per symbol on one key grid, all QC-clean
    val n = Symbols.toLong * HistDrops * Rows
    val h = xxhash64(lit(ctx.seed), col("id"))
    spark.range(n).select(
      expr(s"cast(id div ${HistDrops.toLong * Rows} as int)").as("s"),
      expr(s"cast((id div $Rows) % $HistDrops as int)").as("d"),
      timestamp_micros(lit(BaseUs) + (col("id") % (HistDrops.toLong * Rows)) * StepUs).as("DateTime"),
      (lit(100.0) + sin(col("id") / 5000.0) * 10 + pmod(h, lit(1000L)) / 1000.0).as("Bid"))
      .withColumn("Ask", col("Bid") + lit(0.01) + pmod(xxhash64(col("Bid")), lit(100L)) / 10000.0)
      .repartition((Symbols * HistDrops), col("s"), col("d"))
      .sortWithinPartitions("DateTime")
      .write.partitionBy("s", "d").parquet(tmp.toString)
    val fs = ctx.fs(tmp)
    (0 until Symbols).foreach { s =>
      (0 until HistDrops).foreach { k =>
        val src = fs.listStatus(new Path(tmp, s"s=$s/d=$k")).map(_.getPath)
          .find(_.getName.endsWith(".parquet")).get
        val dst = new Path(dataRoot, f"${sym(s)}/h$k%03d.parquet")
        fs.mkdirs(dst.getParent)
        fs.rename(src, dst)
        inputBytesSum += fs.getFileStatus(dst).getLen
      }
      passing(s) = Vector((0L, HistDrops.toLong * Rows))
    }
    fs.delete(tmp, true)
    // seed the tables through the public batched path (one scan per symbol)
    new IngestPipeline(spark, cfg().copy(batchedIngest = true)).run(dataRoot.toString)
  }

  /** Starts the mirror (once per run, on the last set-up's tables) and
    * ingests one drop beside it.
    */
  override def warmup(): Unit = {
    mirror = new Mirror(ctx, new LakehouseCatalog(spark, wh.toString).loadTable(s"gold.${sym(0).toLowerCase}"),
      new Path(dir.getPath, "mirror"), "DateTime", new File(dir, "ckpt").getPath)
    mirror.start()
    drop(-1L, traced = false)
    auditRunsAtStart = new IngestPipeline(spark, cfg()).auditLog.readAll().size
    rowsAtStart = tableRows()
  }

  private def tableRows(): Long = {
    val cat = new LakehouseCatalog(spark, wh.toString)
    cat.listTables("gold").map(t => cat.loadTable(t).read().count()).sum
  }

  /** Writes one drop file; returns (path, rows expected to be appended). */
  private def writeDrop(s: Int): (Path, Long) = {
    val f = nextFile; nextFile += 1
    val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + f)
    val failsQc = f % FailEvery == FailAt
    val histSlots = HistDrops.toLong * Rows
    val dups = scala.collection.mutable.HashSet.empty[Long]
    val rows = new java.util.ArrayList[Row](Rows)
    var fresh = 0L
    val from = cursor(s)
    var bid = 100.0 + rnd.nextDouble() * 10
    (0 until Rows).foreach { r =>
      val slot =
        if (rnd.nextDouble() < DupShare) {
          var x = rnd.nextLong(histSlots)
          while (dups.contains(x)) x = rnd.nextLong(histSlots)
          dups += x; x
        } else { val x = cursor(s); cursor(s) += 1; fresh += 1; x }
      bid = math.max(1.0, bid + (rnd.nextDouble() - 0.5) * 0.02)
      val nullBid = failsQc && r % 50 < 3 // 6% null Bid: fails the 5% rule
      rows.add(Row(new java.sql.Timestamp(keyUs(slot) / 1000),
        if (nullBid) null else bid, bid + 0.01 + rnd.nextDouble() * 0.01))
    }
    val tmp = new Path(dir.getPath, s"gen-$f")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp.toString)
    val fs = ctx.fs(tmp)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val dst = new Path(dataRoot, f"${sym(s)}/d$f%06d.parquet")
    fs.rename(part, dst)
    fs.delete(tmp, true)
    inputBytesSum += fs.getFileStatus(dst).getLen
    if (!failsQc) passing(s) = passing(s) :+ ((from, cursor(s)))
    (dst, if (failsQc) 0L else fresh)
  }

  private def drop(i: Long, traced: Boolean): OpRec = {
    // the mirrored symbol and one of the others in turn
    val other = 1 + Math.floorMod(i + 1 + ctx.seed, Symbols - 1L).toInt
    val expected = Seq(0, other).map(s => writeDrop(s)._2).sum
    opsRun += 1
    val rec =
      if (!traced) {
        val p = new IngestPipeline(spark, cfg())
        timed("drop", i, traced)(p.run(dataRoot.toString).totalRowsAppended)
      } else {
        val ledger = new ChecksumLedger(new Path(wh, "ingested_files.json"), ctx.fs(wh))
        val audit = new AuditLog(new Path(wh, "audit_log.json"), ctx.fs(wh))
        val catalog = new LakehouseCatalog(spark, wh.toString)
        catalog.createNamespaceIfNotExists(cfg().namespace)
        timed("drop", i, traced)(composedRun(ledger, audit, catalog))
      }
    if (rec.ok && rec.rows != expected)
      rec.copy(ok = false, err = s"appended ${rec.rows} rows, generator expects $expected")
    else rec
  }

  /** `IngestPipeline.run` with the reference defaults, re-composed from
    * the same public steps in the same order, with the same persist, so
    * each step gets its own span.
    */
  private def composedRun(ledger: ChecksumLedger, audit: AuditLog, catalog: LakehouseCatalog): Long = {
    val conf = cfg()
    val t0 = java.time.Instant.now()
    val fs = ctx.fs(dataRoot)
    val symDirs = fs.listStatus(dataRoot).filter(_.isDirectory).map(_.getPath).sortBy(_.getName).toSeq
    val audits = symDirs.map { symDir =>
      val files = {
        val it = fs.listFiles(symDir, true)
        val b = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) { val p = it.next().getPath; if (p.getName.endsWith(".parquet")) b += p }
        b.sortBy(_.toString).toSeq
      }
      val tableId = s"${conf.namespace}.${symDir.getName.toLowerCase}"
      val results = files.map { f =>
        val sum = tracer.span("ingest.checksum")(ledger.checksum(f))
        if (ledger.isUnchanged(f, sum)) FileIngestResult(f.toString, 0, 0, skipped = true, Nil)
        else {
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          val qcCfg = QcConfig(conf.requiredColumns, conf.timeColumn, conf.positiveColumns,
            conf.minRows, conf.maxNullFraction)
          val (df, qc) = tracer.span("ingest.normalize_qc") {
            val df = Normalize(spark.read.parquet(f.toString), conf.timeColumn)
              .persist(StorageLevel.MEMORY_AND_DISK)
            (df, QualityChecks.run(df, qcCfg))
          }
          try {
            rowsRead += math.max(qc.nRows, 0)
            if (!qc.passed) {
              filesRejected += 1
              FileIngestResult(f.toString, 0, math.max(qc.nRows, 0), skipped = false, qc.issues)
            } else {
              val table = catalog.createTableIfNotExists(
                tableId, df.schema, Some(conf.timeColumn), conf.partitionGranularity)
              val keyed = if (qc.nullTimeKey > 0) df.filter(col(conf.timeColumn).isNotNull) else df
              val fresh = tracer.span("ingest.dedup") {
                Dedup.dropExisting(Dedup.withinBatch(keyed, Seq(conf.timeColumn)), table, conf.timeColumn)
              }
              val snap = withCommit("lake.write", table.tableDir)(table.appendIfNonEmpty(fresh))
              snap.foreach { s => tracedCommits += 1; tracedAddedFiles += s.addedFilesCount }
              val n = snap.map(_.addedRows).getOrElse(0L)
              rowsKept += n
              ledger.record(f, sum)
              FileIngestResult(f.toString, n, qc.nullTimeKey, skipped = false, Nil)
            }
          } finally df.unpersist()
        }
      }
      if (catalog.tableExists(tableId)) tracer.span("lake.expire") {
        catalog.loadTable(tableId).expireSnapshots(
          retentionMs = conf.retentionDays.toLong * 24 * 3600 * 1000, keepLast = conf.keepSnapshots)
      }
      TableAudit(tableId, results.map(_.appended).sum, results.map(_.rejected).sum,
        results.count(!_.skipped), results.count(_.skipped), results.flatMap(_.issues))
    }
    tracer.span("ingest.ledger")(ledger.persist())
    val t1 = java.time.Instant.now()
    val total = audits.map(_.rowsAppended).sum
    tracer.span("ingest.audit")(audit.append(RunSummary(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
        .withZone(java.time.ZoneOffset.UTC).format(t0),
      t0.toString, t1.toString, (t1.toEpochMilli - t0.toEpochMilli) / 1000.0,
      audits, total, Nil)))
    total
  }

  override def run(seconds: Double, traced: Boolean): Seq[OpRec] = {
    val p0 = mirror.progressCount
    val c0 = graft.lake.CommitMetrics.totalSec(mirror.dst.tableDir.toString)
    val backlog = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sids = scala.collection.mutable.ArrayBuffer.empty[Long]
    // a fixed number of drops, so every commit's drops see the same history
    val drops = math.max(MinDrops, math.round(seconds / NominalDropS).toInt)
    val recs = closedLoop(seconds, traced, TracedPairs, fixedOps = drops) { (i, on) =>
      // source snapshots committed but not yet mirrored when the op starts;
      // snapshot ids are consecutive, so the gap is a count
      backlog += math.max(0L, mirror.latestSource - mirror.frontier).toDouble
      val r = drop(i, on)
      sids += mirror.latestSource
      r
    }
    mirror.await(sids.last, QuiesceMs)
    val third = math.max(1, backlog.size / 3)
    streamStats = mirror.stats(p0, c0) ++ Map(
      "stream.backlog_snapshots" -> backlog.sum / math.max(1, backlog.size),
      "stream.backlog_growth" -> (backlog.takeRight(third).sum - backlog.take(third).sum) / third)
    recs.zip(sids).map { case (r, sid) =>
      r.copy(committed = mirror.committedAt(sid), mirrored = mirror.mirroredAt(sid).getOrElse(Double.NaN))
    }
  }

  override def checks(): Seq[Check] = {
    val cat = new LakehouseCatalog(spark, wh.toString)
    def keyStats(df: org.apache.spark.sql.DataFrame) = df.groupBy("s")
      .agg(count(lit(1)), countDistinct(col("DateTime")),
        sum(unix_micros(col("DateTime")).cast("decimal(38,0)")).cast("string"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val got = keyStats((0 until Symbols).map(s =>
      cat.loadTable(s"gold.${sym(s).toLowerCase}").read().select(lit(s).as("s"), col("DateTime")))
      .reduce(_ unionByName _))
    val perTable = (0 until Symbols).map { s =>
      val (n, distinct, keySum) = got(s)
      // the generator's own keys: duplicates only repeat history keys, so the
      // distinct keys are exactly the slot ranges of the QC-passing files
      val wantN = passing(s).map { case (a, b) => b - a }.sum
      val wantSum = passing(s).map { case (a, b) =>
        BigInt(b - a) * BaseUs + BigInt(StepUs) * ((BigInt(a) + b - 1) * (b - a) / 2) }.sum
      val ok = n == distinct && n == wantN && BigInt(keySum) == wantSum
      Check(s"table ${sym(s)} = distinct keys of its QC-passing files", ok,
        s"rows=$n distinct=$distinct want=$wantN")
    }
    val runs = new IngestPipeline(spark, cfg()).auditLog.readAll().drop(auditRunsAtStart)
    val audited = runs.map(_.totalRowsAppended).sum
    val grown = got.values.map(_._1).sum - rowsAtStart
    perTable ++ Seq(
      Check("audit log totals = table growth", audited == grown && runs.size == opsRun - 1,
        s"audited=$audited grown=$grown runs=${runs.size}"),
      mirror.check())
  }

  override def inputBytes: Long = inputBytesSum
  override def storedBytes: Long = ctx.bytesUnder(new Path(wh, "gold"))

  override def counters: Map[String, Double] = Map(
    "ingest.rows_kept_frac" -> (if (rowsRead == 0) 0.0 else rowsKept.toDouble / rowsRead),
    "ingest.files_rejected" -> filesRejected.toDouble,
    "lake.files_per_commit" -> (if (tracedCommits == 0) 0.0 else tracedAddedFiles.toDouble / tracedCommits),
    "lake.metadata_bytes" -> ctx.metadataBytes(new Path(wh, "gold")).toDouble) ++ streamStats

  override def close(): Unit = if (mirror != null) { mirror.stop(); mirror = null }
}

object IngestDrops {
  val Symbols = 4
  val HistDrops = 2
  val Rows = 5000
  val DupShare = 0.2
  /** Drop file f (numbered from the warm-up's) fails QC when f mod
    * `FailEvery` = `FailAt`: one file in 20, at the same place in every
    * run, so every seed does the same QC work. The rejected file stays in
    * the data root and every later drop re-reads and re-rejects it, as
    * the reference does.
    */
  val FailEvery = 20
  val FailAt = 3
  val TracedPairs = 4
  /** Untraced drops per run: `--seconds` at this many seconds a drop (about
    * the seed commit's drop time on 4 cores), at least `MinDrops`.
    */
  val NominalDropS = 2.0
  val MinDrops = 3
  val QuiesceMs = 60000L
  val BaseUs: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
  val StepUs = 1000000L
}
