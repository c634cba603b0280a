package lakebench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.Serialization

import java.io.File
import java.lang.management.ManagementFactory

/** Runs one workload in one JVM and writes its raw record (op times,
  * set-up times, spans, stage counters, checks) as JSON; `run.py` turns
  * the record into metrics.
  *
  * {{{
  * lakebench.Main --workload lake_reads --seed 1 --seconds 10 --trace 0 \
  *   --work <scratch dir> --out <record.json>
  * }}}
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val warehouse = new File(work, "wh").getAbsolutePath
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // generated inputs carry timestamp footer stats; the engine sets the
      // same for its own writes
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tags = new StageTags
    spark.sparkContext.addSparkListener(tags)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext), seed, warehouse)
    val w: Workload = a("workload") match {
      case "ingest_drops" => new IngestDrops(ctx)
      case "lake_reads" => new LakeReads(ctx)
      case "text_curation" => new TextCuration(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try {
      val setupS = (1 to Setups).map { k =>
        val t0 = System.nanoTime()
        w.setup(new File(work, s"setup-$k"))
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[lakebench] set-up $k took $s%.2f s")
        s
      }
      val w0 = System.nanoTime()
      w.warmup()
      val warmupS = (System.nanoTime() - w0) / 1e9
      tags.clear()
      val t0 = ctx.tracer.now()
      val ops = w.run(seconds, traced)
      val windowMs = ctx.tracer.now() - t0
      val heapMb = LiveHeap.mb()
      val c0 = System.nanoTime()
      val checks = w.checks()
      val checksS = (System.nanoTime() - c0) / 1e9
      val record = Map(
        "workload" -> a("workload"), "seed" -> seed, "traced" -> traced,
        "setup_s" -> setupS, "warmup_s" -> warmupS, "checks_s" -> checksS, "window_ms" -> windowMs,
        "live_heap_mb" -> heapMb,
        "input_bytes" -> w.inputBytes, "stored_bytes" -> w.storedBytes,
        "ops" -> ops.map(o => Map("kind" -> o.kind, "id" -> o.id, "t0" -> o.t0, "t1" -> o.t1,
          "committed" -> Some(o.committed).filterNot(_.isNaN),
          "mirrored" -> Some(o.mirrored).filterNot(_.isNaN),
          "traced" -> o.traced, "ok" -> o.ok, "rows" -> o.rows, "err" -> o.err)),
        "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
        "counters" -> w.counters,
        "spans" -> ctx.tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)),
        "stages" -> tags.snapshot().map(s => Map("stage" -> s.stage, "op" -> s.op,
          "span" -> s.span, "call_site" -> s.callSite, "submitted" -> s.submitted, "tasks" -> s.tasks, "cpu_ms" -> s.cpuMs,
          "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes, "shuffle_bytes" -> s.shuffleBytes,
          "spill_bytes" -> s.spillBytes)),
        "jobs" -> tags.jobs().map { case (j, op) => Map("job" -> j, "op" -> op) },
        "env" -> Map("java" -> System.getProperty("java.version"), "spark" -> spark.version))
      val out = new java.io.PrintWriter(a("out"), "UTF-8")
      try out.write(Serialization.write(record)(DefaultFormats)) finally out.close()
    } finally {
      w.close()
      spark.stop()
    }
    // some engine thread pools are not daemon threads
    sys.exit(0)
  }
}

/** Live heap: heap in use after a full collection at the end of the
  * timed region.
  */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
