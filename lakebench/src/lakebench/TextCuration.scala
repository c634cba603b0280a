package lakebench

import graft.lake.LakehouseTable
import graft.ops.{Curation, DedupOps, NgramLM, TextAnalysis}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import java.io.File

/** `text_curation`: read a document table, run the full curation recipe
  * (`Curation.curateCorpusFull` with `q_text_curation_full`'s
  * parameters), overwrite the survivors into an output table, release.
  * Closed loop, one client.
  */
final class TextCuration(c: Ctx) extends Workload(c) {
  import TextCuration._

  private var docs: LakehouseTable = _
  private var out: LakehouseTable = _
  private var inputBytesSum = 0L
  private var inputDocs = 0L
  private val hashes = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, String)]
  // traced-op counters
  private var tracedKept = 0L
  private var tracedRead = 0L

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** A seeded corpus shaped like the sf0.1 `documents` table: short
    * word-salad documents over a small vocabulary, 20 sources, five
    * languages, with planted near-duplicates, repeated passages,
    * boilerplate lines and PII, so every curation stage has work.
    */
  private def corpus(): java.util.List[Row] = {
    val r = new java.util.SplittableRandom(ctx.seed * 104729 + 11)
    def words(n: Int): Seq[String] = Seq.fill(n)(Vocab(math.min(Vocab.length - 1,
      (Vocab.length * math.pow(r.nextDouble(), 1.6)).toInt)))
    val boiler = Seq.fill(12)(words(9).mkString(" "))
    val passages = Seq.fill(40)(words(10).mkString(" "))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = new java.util.ArrayList[Row](Docs)
    (0 until Docs).foreach { i =>
      val text =
        if (texts.nonEmpty && r.nextDouble() < NearDupShare) {
          // a near-duplicate: an earlier document with a few words replaced
          texts(r.nextInt(texts.size)).split(" ").map(w =>
            if (r.nextDouble() < 0.05) Vocab(r.nextInt(Vocab.length)) else w).mkString(" ")
        } else {
          val parts = scala.collection.mutable.ArrayBuffer(words(8 + r.nextInt(80)).mkString(" "))
          if (r.nextDouble() < 0.2) parts += boiler(r.nextInt(boiler.size))
          if (r.nextDouble() < 0.2) parts += passages(r.nextInt(passages.size))
          if (r.nextDouble() < 0.05) parts += s"mail u${r.nextInt(999)}@example.com"
          if (r.nextDouble() < 0.05) parts += s"ip 10.${r.nextInt(255)}.${r.nextInt(255)}.${r.nextInt(255)}"
          new scala.util.Random(r.nextLong()).shuffle(parts).mkString(" ")
        }
      texts += text
      val lang = if (r.nextDouble() < 0.42) Langs(0) else Langs(1 + r.nextInt(Langs.length - 1))
      rows.add(Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong))
    }
    rows
  }

  override def setup(d: File): Unit = {
    hashes.clear(); tracedKept = 0L; tracedRead = 0L
    val gen = new Path(d.getPath, "gen/documents")
    spark.createDataFrame(corpus(), schema).coalesce(1).write.parquet(gen.toString)
    inputBytesSum = ctx.bytesUnder(gen)
    docs = LakehouseTable.createIfNotExists(spark, new Path(d.getPath, "docs"), schema, None)
    docs.append(spark.read.parquet(gen.toString))
    inputDocs = docs.read().count()
    out = LakehouseTable.createIfNotExists(spark, new Path(d.getPath, "curated"),
      StructType(schema.fields.take(2)), None)
  }

  override def warmup(): Unit = curate(-1L, traced = false)

  private def curate(i: Long, traced: Boolean): OpRec = {
    val rec =
      if (!traced) timed("curate", i, traced) {
        val cc = Curation.curateCorpusFull(docs.read(), nearDupThreshold = NearDup,
          maxAvgNll = MaxAvgNll, nearDupBlockCol = Some("source"))
        try out.overwrite(cc.frame).addedRows finally cc.release()
      }
      else timed("curate", i, traced)(composed())
    if (!rec.ok) return rec
    // outside the op's time: the survivor hash every op must reproduce
    val h = out.read().agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)")).cast("string"))
      .head().toString
    hashes += ((i, traced, h))
    val first = hashes.head._3
    if (h != first) rec.copy(ok = false, err = s"survivor hash $h differs from the first op's $first")
    else rec
  }

  /** `curateCorpusFull` re-composed from the same public stages in the
    * same order. Each stage's output is persisted and counted inside its
    * span so its cost lands there instead of in the final write; the
    * extra actions show up in the traced-versus-untraced op p50.
    */
  private def composed(): Long = {
    val input = docs.read()
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); held += p; p
    }
    try {
      val redacted = tracer.span("ops.gate_redact") {
        keep(TextAnalysis.gopherFilter(input, "text").select(input.columns.map(col).toIndexedSeq: _*)
          .withColumn("text", TextAnalysis.redactPii(col("text"))))
      }
      val base = tracer.span("ops.line_dedup") {
        keep(DedupOps.dedupLinesTokenized(redacted, "doc_id", "text", 8, 1)
          .withColumnRenamed("text_clean", "text")
          .join(input.select(col("doc_id"), col("source")), Seq("doc_id")))
      }
      val deduped = tracer.span("ops.near_dup") {
        keep(DedupOps.dedupCorpus(base, "source", "doc_id", "text", minJaccard = NearDup)
          .select(col("doc_id"), col("text")))
      }
      val spanned = tracer.span("ops.span_dedup") {
        keep(DedupOps.maskDuplicatedSpans(deduped, "doc_id", "text", 8, 2)
          .select(col("doc_id"), col("text")))
      }
      val kept = tracer.span("ops.lm") {
        val ref = spanned.join(input.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .filter(col("lang") === "en")
        val model = NgramLM.fitBigrams(ref, "text")
        keep(spanned.join(NgramLM.scorePerplexity(spanned, model, "doc_id", "text")
          .filter(col("avg_nll") <= MaxAvgNll).select(col("doc_id")), Seq("doc_id"), "left_semi"))
      }
      val n = withCommit("lake.write", out.tableDir)(out.overwrite(kept)).addedRows
      tracedRead += inputDocs; tracedKept += n
      n
    } finally tracer.span("ops.release")(held.foreach(_.unpersist(blocking = false)))
  }

  /** A fixed number of runs: every overwrite keeps its predecessor's files
    * (nothing expires them), so the stored bytes must not depend on how many
    * runs fit in the time.
    */
  override def run(seconds: Double, traced: Boolean): Seq[OpRec] = {
    val runs = math.max(MinRuns, math.round(seconds / SecondsPerRun).toInt)
    closedLoop(seconds, traced, TracedPairs, fixedOps = runs)((i, on) => curate(i, on))
  }

  override def checks(): Seq[Check] = {
    val distinct = hashes.map(_._3).distinct
    Seq(Check("every op's survivor hash equals the first op's", distinct.size == 1,
      s"hashes=${distinct.mkString(" | ")}"))
  }

  override def inputBytes: Long = inputBytesSum
  override def storedBytes: Long = ctx.bytesUnder(docs.tableDir) + ctx.bytesUnder(out.tableDir)

  override def counters: Map[String, Double] = Map(
    "ops.docs_kept_frac" -> (if (tracedRead == 0) 0.0 else tracedKept.toDouble / tracedRead),
    "lake.metadata_bytes" -> (ctx.metadataBytes(docs.tableDir) + ctx.metadataBytes(out.tableDir)).toDouble)
}

object TextCuration {
  val Docs = 600
  val NearDupShare = 0.1
  val NearDup = 0.5
  val MaxAvgNll = 3.55
  val TracedPairs = 2
  /** Untraced runs per run: `--seconds` ÷ this, rounded (2 at 10 s), at
    * least `MinRuns`; two runs take about 11 s on 4 cores.
    */
  val SecondsPerRun = 5.0
  val MinRuns = 2
  val Langs: IndexedSeq[String] = IndexedSeq("en", "es", "fr", "de", "zh")
  val Vocab: IndexedSeq[String] = ("a batch part spark line column order small sort fast value scan " +
    "hash slow group agg filter query big key window row table stream merge data vector index " +
    "file page cache plan join shuffle commit").split(" ").toIndexedSeq
}
