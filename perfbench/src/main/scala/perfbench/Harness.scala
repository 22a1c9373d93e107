package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one operation carried: rows it delivered or returned, and the
  * generated input it consumed (rows and bytes).
  */
final case class OpOut(rows: Long, inputRows: Long, inputBytes: Long)

final case class Sample(ns: Long, work: Work, out: Option[OpOut], error: Option[String])

/** Session-wide handles a workload drives the engine with. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val listener: WorkListener) {
  /** Drain the listener bus so every event of a finished call is counted. */
  def settle(): Unit =
    org.apache.spark.perfbenchbridge.ListenerBus.waitUntilEmpty(spark.sparkContext)
}

/** A closed-loop workload with one client: set-up builds inputs and state
  * from the seed; each operation is one delivery (a DAG's full stage
  * chain) or one read; verification compares the engine's outputs with an
  * independent model after the timed phase.
  */
trait Workload {
  def name: String
  /** Generate inputs and build engine state from scratch under `root`.
    * Run several times; the last run's state is the one timed.
    */
  def setup(ctx: Ctx, root: String): Unit
  /** How many operations the generated inputs allow. */
  def maxOps: Int
  /** Operations per repeat of the workload's pattern; the timed phase
    * always ends on a whole number of repeats, so per-operation counts do
    * not depend on where the clock ran out.
    */
  def cycle: Int = 1
  /** Run untimed after the last set-up. The DAG workloads need none: their
    * set-ups run the first delivery twice, and the first timed delivery is
    * the first merge into existing tables, as on the DAG's second day.
    */
  def warmup(ctx: Ctx): Unit = ()
  /** Run operation `i`; throw when it fails. */
  def op(ctx: Ctx, i: Int): OpOut
  /** Check operation `i`'s answer against the model, outside its timing;
    * throw on a mismatch.
    */
  def check(i: Int, out: OpOut): Unit = ()
  /** Named correctness checks over the final state. */
  def verify(ctx: Ctx): Seq[(String, Boolean)]
  /** Bytes of generated input behind the final state. */
  def userBytes: Long
  /** Directories whose on-disk bytes count as stored output. */
  def outputRoots: Seq[String]
  def close(): Unit = ()
}

final case class Metric(name: String, unit: String, value: Double)

object Harness {
  /** Set-ups per run; `setup_s` is their median. The first runs on a cold
    * JVM, so the median of two is the mean of a cold and a warm set-up.
    */
  val SetupReps = 2

  /** `storedBytes` and `userBytes` are taken after the first timed cycle,
    * a fixed amount of work, so they do not depend on how many cycles the
    * clock allowed.
    */
  final case class Result(setupNs: Seq[Long], samples: Seq[Sample],
      checks: Seq[(String, Boolean)], heapBytes: Long, storedBytes: Long,
      userBytes: Long, phaseNs: Seq[(String, Long)])

  def run(ctx: Ctx, wl: Workload, workDir: java.nio.file.Path,
      seconds: Double): Result = {
    val setupNs = (0 until SetupReps).map { r =>
      if (r > 0) Disk.deleteTree(workDir.resolve(s"setup${r - 1}"))
      val t0 = System.nanoTime()
      wl.setup(ctx, workDir.resolve(s"setup$r").toString)
      System.nanoTime() - t0
    }
    val tWarm = System.nanoTime()
    wl.warmup(ctx)
    ctx.settle()
    val tTimed = System.nanoTime()
    val samples = mutable.ArrayBuffer[Sample]()
    var storage = (0L, 0L)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    ctx.tracer.active = ctx.tracer.enabled
    while (samples.size < wl.maxOps &&
        (samples.size % wl.cycle != 0 || samples.isEmpty ||
          System.nanoTime() < deadline)) {
      val i = samples.size
      val before = ctx.listener.totals
      val t0 = System.nanoTime()
      val out = try Right(wl.op(ctx, i)) catch { case e: Exception => Left(e) }
      val ns = System.nanoTime() - t0
      ctx.settle()
      val work = ctx.listener.totals - before
      val checked = out.flatMap(o =>
        try { wl.check(i, o); Right(o) } catch { case e: Exception => Left(e) })
      samples += (checked match {
        case Right(o) => Sample(ns, work, Some(o), None)
        case Left(e) =>
          System.err.println(s"[perfbench] ${wl.name} op $i failed: $e")
          Sample(ns, work, None, Some(e.toString))
      })
      if (samples.size == wl.cycle) storage =
        (wl.outputRoots.map(r => Disk.treeBytes(java.nio.file.Paths.get(r))).sum, wl.userBytes)
    }
    ctx.tracer.active = false
    val tVerify = System.nanoTime()
    // the second collection runs after Spark's cleaner has released what
    // the first one found unreachable
    System.gc(); Thread.sleep(200); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    val checks = try wl.verify(ctx)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] ${wl.name} verification threw: $e")
        Seq("verification completes" -> false) }
    Result(setupNs, samples.toSeq, checks, heap, storage._1, storage._2, Seq(
      "warmup" -> (tTimed - tWarm), "timed" -> (tVerify - tTimed),
      "verify" -> (System.nanoTime() - tVerify)))
  }

  /** The end-to-end metrics, one per name in BENCHMARK.json. An operation
    * is one delivery on a DAG workload and one read on `lake_serving`.
    */
  def endToEnd(r: Result): (Seq[Metric], String) = {
    val ok = r.samples.filter(_.error.isEmpty)
    val ms = ok.map(_.ns / 1e6)
    val secs = ok.map(_.ns).sum / 1e9
    val (tailP, tailMs) = Stats.tail(ms)
    val n = ok.size.toDouble
    val metrics = Seq(
      Metric("setup_s", "s", Stats.median(r.setupNs.map(_ / 1e9))),
      Metric("op_ms_p50", "ms", Stats.median(ms)),
      Metric("op_ms_tail", "ms", tailMs),
      Metric("rows_per_s", "1/s", ok.flatMap(_.out).map(_.rows).sum / secs),
      Metric("jobs_per_op", "count", ok.map(_.work.jobs).sum / n),
      Metric("stored_bytes_per_user_byte", "ratio",
        r.storedBytes.toDouble / math.max(1L, r.userBytes)),
      Metric("driver_heap_mb", "MB", r.heapBytes / 1048576.0))
    (metrics, s"tail = p${Json.num(tailP)} of ${ms.size} ops")
  }
}

/** Small filesystem helpers for the benchmark's own scratch output. */
object Disk {
  import java.nio.file.{Files => JFiles, Path}
  def deleteTree(p: Path): Unit =
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(JFiles.delete(_))
      finally s.close()
    }
  def treeBytes(p: Path): Long =
    if (!JFiles.exists(p)) 0L
    else {
      val s = JFiles.walk(p)
      try s.filter(JFiles.isRegularFile(_)).mapToLong(JFiles.size(_)).sum()
      finally s.close()
    }
}
