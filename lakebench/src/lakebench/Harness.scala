package lakebench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.io.File

/** One operation as the client saw it, from `t0` to its return at `t1`.
  * Where a downstream mirror follows the op's commit, `committed` is that
  * commit's time and `mirrored` when the mirror's committed state first
  * included it (both NaN otherwise).
  */
final case class OpRec(
    kind: String, id: Long, t0: Double, t1: Double,
    traced: Boolean, ok: Boolean, rows: Long, err: String = "",
    committed: Double = Double.NaN, mirrored: Double = Double.NaN)

final case class Check(name: String, ok: Boolean, detail: String)

final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    /** Warehouse of the `graft` SQL catalog, fixed for the session. */
    val warehouse: String) {
  def fs(p: Path): FileSystem = p.getFileSystem(spark.sessionState.newHadoopConf())

  def bytesUnder(dir: Path): Long = {
    val f = fs(dir)
    if (!f.exists(dir)) 0L else f.getContentSummary(dir).getLength
  }

  /** Bytes of files under `dir` whose path contains `/metadata/`. */
  def metadataBytes(dir: Path): Long = {
    val f = fs(dir)
    if (!f.exists(dir)) return 0L
    val it = f.listFiles(dir, true)
    var n = 0L
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.toString.contains("/metadata/")) n += s.getLen
    }
    n
  }
}

/** A workload: seeded set-up, a timed region, and correctness checks.
  *
  * In a traced run the timed region runs a fixed number of ops instead
  * of a fixed time, alternating untraced and traced ops, so count
  * metrics repeat exactly for a seed and the two kinds of op see the
  * same table state.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def tracer: Tracer = ctx.tracer

  /** Generates inputs and builds tables under `dir`. */
  def setup(dir: File): Unit
  /** Runs the op once or a few times untimed, once per JVM, after the
    * last set-up: JIT, Catalyst and the planning cache warm up here.
    */
  def warmup(): Unit
  def run(seconds: Double, traced: Boolean): Seq[OpRec]
  def checks(): Seq[Check]
  def inputBytes: Long
  def storedBytes: Long
  /** Counters this workload reads from the engine's public state. */
  def counters: Map[String, Double] = Map.empty
  def close(): Unit = ()

  /** Closed loop with one client: op i starts when op i-1 returns. The
    * timed loop ends at the first multiple of `block` ops after `seconds`,
    * so a workload whose op mix repeats every `block` ops always measures
    * whole mixes. With `fixedOps` > 0 it runs exactly that many ops
    * instead, for a workload whose op cost or stored bytes grow with the
    * ops before it. In a traced run ops 2k and 2k+1 are a pair, one
    * untraced and one traced, the order swapping from pair to pair so
    * neither kind always runs second.
    */
  protected def closedLoop(seconds: Double, traced: Boolean, tracedPairs: Int, block: Int = 1,
      fixedOps: Int = 0)(op: (Long, Boolean) => OpRec): Seq[OpRec] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    if (traced) {
      (0 until 2 * tracedPairs).foreach { i =>
        val on = (i % 2 == 1) != (i / 2 % 2 == 1)
        tracer.enabled = on
        try out += op(i.toLong, on) finally tracer.enabled = false
      }
    } else if (fixedOps > 0) {
      (0 until fixedOps).foreach(i => out += op(i.toLong, false))
    } else {
      val end = tracer.now() + seconds * 1000
      var i = 0L
      while (tracer.now() < end || out.size % block != 0) { out += op(i, false); i += 1 }
    }
    out.toList
  }

  /** Times `body` as op `id`; an exception fails the op, not the run. */
  protected def timed(kind: String, id: Long, traced: Boolean)(body: => Long): OpRec = {
    val t0 = tracer.now()
    try {
      val rows = tracer.op(kind, id)(body)
      val t1 = tracer.now()
      OpRec(kind, id, t0, t1, traced, ok = true, rows)
    } catch {
      case e: Exception =>
        val t1 = tracer.now()
        OpRec(kind, id, t0, t1, traced, ok = false, 0L,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  /** Wall time of a lake call split into its commit tail, read from the
    * engine's public [[graft.lake.CommitMetrics]] for the table; the tail
    * is the last step of every commit, so it is placed at the call's end.
    */
  protected def withCommit[A](writeSpan: String, tableDir: Path)(body: => A): A =
    tracer.span(writeSpan) {
      val key = tableDir.toString
      val c0 = graft.lake.CommitMetrics.totalSec(key)
      val r = body
      val t1 = tracer.now()
      val tail = (graft.lake.CommitMetrics.totalSec(key) - c0) * 1000
      if (tail > 0) tracer.record("lake.commit", t1 - tail, t1)
      r
    }
}
