package perfbench

import graft.orchestration.CorpusDag
import scala.collection.mutable

/** Row-compute-bound curation: all 9 `CorpusDag` stages per delivery over
  * synthetic multi-paragraph documents, a seeded share of them exact or
  * near copies of earlier ones and some carrying shared boilerplate
  * paragraphs. Day 0 is the set-up's delivery (it creates the near-dup
  * index); the timed deliveries start at day 1.
  */
final class CorpusCuration(seed: Long) extends Workload {
  import CorpusCuration._
  val name = "corpus_curation"
  private lazy val days: IndexedSeq[Seq[(Long, String)]] = generate(seed)
  private var root: String = _
  private var delivered = 0
  private val day0Hashes = mutable.ArrayBuffer[String]()

  private def conf(d: Int) = CorpusDag.StageConf(ds = dsOf(d),
    inputDir = s"$root/input/dt=${dsOf(d)}", lakeRoot = s"$root/lake")

  private def deliver(ctx: Ctx, d: Int): OpOut = {
    val c = conf(d)
    ctx.tracer.span("delivery", d) {
      CorpusDag.stageChain.foreach(s =>
        ctx.tracer.span(StageSpans(s), d)(CorpusDag.runStage(ctx.spark, s, c)))
    }
    delivered = d + 1
    OpOut(days(d).size, days(d).size, bytesOf(d))
  }

  private def bytesOf(d: Int): Long =
    Disk.treeBytes(java.nio.file.Paths.get(conf(d).inputDir))

  def setup(ctx: Ctx, root: String): Unit = {
    this.root = root
    val spark = ctx.spark
    import spark.implicits._
    spark.sparkContext.parallelize(days.indices.flatMap(d =>
      days(d).map { case (id, text) => (id, text, dsOf(d)) }), 4)
      .toDF("doc_id", "text", "dt").write.partitionBy("dt").parquet(s"$root/input")
    deliver(ctx, 0)
    day0Hashes += corpusHash(conf(0).corpusDir)
  }

  def maxOps: Int = Deliveries
  override def cycle: Int = 2
  def op(ctx: Ctx, i: Int): OpOut = deliver(ctx, i + 1)

  def verify(ctx: Ctx): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    val reports = spark.read.parquet(s"$root/lake/report")
      .select("dt", "input", "after_filter", "after_exact", "after_neardup")
      .collect().map(r => r.get(0).toString -> (1 to 4).map(r.getLong)).toMap
    val funnelOk = reports.size == delivered && (0 until delivered).forall { d =>
      reports.get(dsOf(d)).exists(f => f.head == days(d).size &&
        f.sliding(2).forall { case Seq(a, b) => a >= b }) }
    val generated = (0 until delivered).flatMap(d => days(d).map(x => (x._1, dsOf(d)))).toSet
    val accepted = spark.read.parquet(s"$root/lake/accepted").select("doc_id", "dt")
      .collect().map(r => (r.getLong(0), r.get(1).toString))
    Seq(
      "funnel counts are monotone from the generated input" -> funnelOk,
      "accepted rows are a subset of the input" ->
        (accepted.nonEmpty && accepted.forall(generated.contains)),
      "corpus output hash is stable for the seed" ->
        (day0Hashes.size == Harness.SetupReps && day0Hashes.distinct.size == 1))
  }

  def userBytes: Long = (0 until delivered).map(bytesOf).sum
  def outputRoots: Seq[String] = Seq(s"$root/lake")
}

object CorpusCuration {
  /** Chosen so that a delivery takes a few seconds; its cost is mostly the
    * DAG's per-stage jobs, not the rows.
    */
  val DocsPerDelivery = 150
  val Deliveries = 8
  /** Shares of each delivery that copy an earlier document exactly, or
    * with a few words changed.
    */
  val ExactShare = 0.10
  val NearShare = 0.10
  /** Share of documents that carry one of the shared boilerplate paragraphs. */
  val BoilerplateShare = 0.20

  val StageSpans: Map[String, String] = Map(
    "annotate" -> "functions.annotate",
    "filter_quality_language" -> "operators.quality_filter",
    "exact_dedup" -> "operators.exact_dedup",
    "near_dedup" -> "operators.near_dedup",
    "compact_index" -> "sinks.compaction",
    "segment_dedup" -> "operators.passage_dedup",
    "export_jsonl" -> "sinks.corpus_jsonl",
    "funnel_report" -> "sinks.funnel_report",
    "vacuum_retention" -> "operators.index_vacuum")

  def dsOf(d: Int): String = java.time.LocalDate.of(2025, 1, 1).plusDays(d).toString

  private val Words = ("the of and to in is that for it as with was on be by this are " +
    "from at or an have not which but all were when we there can more one has " +
    "data table query spark stream batch window join filter group order value key " +
    "row column scan sort merge hash index file lake schema commit version delta " +
    "price market coin volume supply daily report metric quality pipeline stage " +
    "task retry schedule deliver partition bucket cluster vector model train text " +
    "document corpus token language filter clean dedup near exact passage shard " +
    "river mountain city garden music history science energy water health school " +
    "travel food family game season weather light paper story village bridge").split(" ")

  private val Boilerplate = Seq(
    "subscribe to our newsletter for more stories like this one every week",
    "all rights reserved no part of this page may be copied without permission",
    "click here to accept cookies and continue reading the full article today",
    "share this post with your friends and family on every social network",
    "the views expressed here are those of the author and not of the site")

  /** One list of (doc_id, text) per delivery; ids are globally unique. */
  def generate(seed: Long): IndexedSeq[Seq[(Long, String)]] = {
    val rnd = new scala.util.Random(seed)
    def paragraph(): String =
      Seq.fill(rnd.between(15, 40))(Words(rnd.nextInt(Words.length))).mkString(" ")
    val earlier = mutable.ArrayBuffer[String]()
    var nextId = 1L
    (0 to Deliveries).map { _ =>
      (0 until DocsPerDelivery).map { _ =>
        val u = rnd.nextDouble()
        val text =
          if (earlier.nonEmpty && u < ExactShare) earlier(rnd.nextInt(earlier.size))
          else if (earlier.nonEmpty && u < ExactShare + NearShare) {
            val w = earlier(rnd.nextInt(earlier.size)).split(" ")
            (0 until 2).foreach(_ => w(rnd.nextInt(w.length)) = Words(rnd.nextInt(Words.length)))
            w.mkString(" ")
          } else {
            val ps = Seq.fill(rnd.between(3, 6))(paragraph())
            (if (rnd.nextDouble() < BoilerplateShare)
              ps :+ Boilerplate(rnd.nextInt(Boilerplate.size)) else ps).mkString("\n\n")
          }
        earlier += text
        val id = nextId
        nextId += 1
        (id, text)
      }
    }
  }

  /** SHA-256 over the sorted lines of a gzip JSONL corpus directory. */
  def corpusHash(dir: String): String = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val lines = files.flatMap { f =>
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => "%02x".formatLocal(java.util.Locale.ROOT, b & 0xff)).mkString
  }
}
