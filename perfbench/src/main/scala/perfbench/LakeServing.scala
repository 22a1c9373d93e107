package perfbench

import graft.sinks.{LakeTable, MaterializedView}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Reads against a `LakeTable` of lineitem rows (zone maps, blooms and an
  * ndv sidecar) and its materialized view, built in set-up. One client
  * issues a fixed seeded mix; one operation in each pass of
  * [[LakeServing.Mix]] is a small merge, so the manifest grows while the
  * reads run. Each read runs to completion (`toRdd.count`) and its row
  * count is checked against an in-memory model of the table.
  */
final class LakeServing(seed: Long) extends Workload {
  import LakeServing._
  val name = "lake_serving"
  private lazy val model = new Model(seed)
  private lazy val kinds: IndexedSeq[String] =
    new scala.util.Random(seed).shuffle(Mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toIndexedSeq)
  private var root: String = _
  private var inputBytes = 0L
  private val answers = mutable.HashMap[Int, Long]()

  private def tableRoot = s"$root/table"
  private def viewRoot = s"$root/view"

  def setup(ctx: Ctx, root: String): Unit = {
    this.root = root
    val spark = ctx.spark
    model.reset()
    model.toDF(spark).write.parquet(s"$root/input/lineitem")
    model.mergeBatchesDF(spark).write.partitionBy("batch").parquet(s"$root/input/merges")
    inputBytes = Disk.treeBytes(java.nio.file.Paths.get(s"$root/input"))
    LakeTable.init(spark.read.parquet(s"$root/input/lineitem"), tableRoot,
      keys = Seq("l_orderkey", "l_linenumber"), numBuckets = Buckets,
      sortCols = Seq("l_shipdate"),
      statsCols = Seq("l_shipdate", "l_quantity", "l_partkey"),
      maxRecordsPerFile = RowsPerFile,
      bloomCols = Seq("l_partkey"), ndvCols = Seq("l_returnflag"))
    MaterializedView.init(spark, tableRoot, viewRoot,
      groupCols = Seq("l_returnflag", "l_shipmode"),
      sumCols = Seq("l_quantity", "l_extendedprice"))
  }

  override def warmup(ctx: Ctx): Unit =
    ReadKinds.foreach(k => read(ctx, k, new Request(seed, -1, model)))

  def maxOps: Int = MaxOps
  override def cycle: Int = kinds.size

  def op(ctx: Ctx, i: Int): OpOut = kinds(i % kinds.size) match {
    case "merge" =>
      val batch = i / kinds.size
      ctx.tracer.span("sinks.serving_merge", i) {
        LakeTable.merge(ctx.spark, tableRoot,
          ctx.spark.read.parquet(s"$root/input/merges/batch=$batch"))
      }
      OpOut(MergeRows, MergeRows, 0L)
    case k =>
      val n = read(ctx, k, new Request(seed, i, model))
      answers(i) = n
      OpOut(if (k == "fast_count") 1L else n, 0L, 0L)
  }

  override def check(i: Int, out: OpOut): Unit = kinds(i % kinds.size) match {
    case "merge" => model.applyMerge(i / kinds.size)
    case k =>
      val (got, want) = (answers.remove(i).get, new Request(seed, i, model).expected(k))
      if (got != want)
        throw new IllegalStateException(s"$k read $i answered $got rows, model has $want")
  }

  private def read(ctx: Ctx, kind: String, r: Request): Long = {
    val spark = ctx.spark
    ctx.tracer.span(s"sinks.read.$kind", r.i) {
      kind match {
        case "fast_count" =>
          LakeTable.fastCount(spark, tableRoot)
            .getOrElse(LakeTable.read(spark, tableRoot).count())
        case _ =>
          val df: DataFrame = kind match {
            case "eq" => LakeTable.readEq(spark, tableRoot, "l_partkey", r.part.toString)
            case "in_small" | "in_dense" =>
              LakeTable.readEqAny(spark, tableRoot, "l_partkey", r.parts(kind).map(_.toString))
            case "range_narrow" | "range_wide" =>
              val (lo, hi) = r.dates(kind)
              LakeTable.readRange(spark, tableRoot, "l_shipdate", dateStr(lo), dateStr(hi))
            case "box" =>
              val (lo, hi) = r.dates(kind)
              LakeTable.readBox(spark, tableRoot, Seq(("l_shipdate", dateStr(lo), dateStr(hi)),
                ("l_quantity", r.qty.toDouble.toString, (r.qty + 10).toDouble.toString)))
            case "scan_filter" =>
              LakeTable.scan(spark, tableRoot).filter(
                col("l_partkey").between(r.partLo, r.partLo + 50) && col("l_discount") < 0.05)
            case "lookup" =>
              import spark.implicits._
              LakeTable.lookup(spark, tableRoot,
                r.probes.toDF("l_orderkey", "l_linenumber"))
            case "mv_read" => MaterializedView.read(spark, viewRoot)
          }
          execute(ctx, df)
      }
    }
  }

  /** Run the read to completion. When tracing, time the physical planning
    * (where the FileIndex prunes) apart from execution, and take the scan
    * nodes' file and row counts afterwards.
    */
  private def execute(ctx: Ctx, df: DataFrame): Long =
    if (!ctx.tracer.active) df.queryExecution.toRdd.count()
    else {
      val t0 = System.nanoTime()
      val plan = df.queryExecution.executedPlan
      ctx.tracer.attr("plan_ms", (System.nanoTime() - t0) / 1e6)
      val n = df.queryExecution.toRdd.count()
      val (files, rows) = ScanMetrics(plan)
      ctx.tracer.attr("files_read", files.toDouble)
      ctx.tracer.attr("rows_read", rows.toDouble)
      ctx.tracer.attr("rows_returned", n.toDouble)
      n
    }

  def verify(ctx: Ctx): Seq[(String, Boolean)] = Seq(
    "table row count equals the model after every merge" ->
      (LakeTable.read(ctx.spark, tableRoot).count() == model.size))

  def userBytes: Long = inputBytes
  def outputRoots: Seq[String] = Seq(tableRoot, viewRoot)
}

object LakeServing {
  /** Lines in the table, four per order: a twentieth of sf0.1, chosen so
    * that set-up and a pass of the mix take a few seconds each. Files hold
    * [[RowsPerFile]] rows, 24 files in all, so the sidecars have files to
    * prune.
    */
  val Rows = 30000
  val Buckets = 8
  val RowsPerFile = 1250L
  val Parts = 20000
  val Supps = 1000
  val SmallIn = 10
  /** Above the engine's 10k dense-probe threshold. */
  val DenseIn = 12000
  val NarrowDays = 7
  val WideDays = 365
  val BoxDays = 90
  val LookupProbes = 20
  /** Enough keys that a merge touches every bucket, so each one rewrites
    * the same share of the table whatever the seed.
    */
  val MergeRows = 60
  /** Of each merge batch's rows, how many are fresh lines; the rest update. */
  val MergeInserts = 15
  val MaxOps = 2500

  /** One pass of the mix: 50 operations, one of them a merge, in an order
    * shuffled once per seed.
    */
  val Mix: Seq[(String, Int)] = Seq("eq" -> 9, "in_small" -> 6, "in_dense" -> 1,
    "range_narrow" -> 9, "range_wide" -> 4, "box" -> 6, "scan_filter" -> 5,
    "lookup" -> 4, "fast_count" -> 2, "mv_read" -> 3, "merge" -> 1)

  val ReadKinds: Seq[String] = Mix.map(_._1).filter(_ != "merge")

  private val Day0 = java.time.LocalDate.of(1992, 1, 2).toEpochDay.toInt
  private val ShipDays = 2525
  private val Flags = Array("A", "N", "R")
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  def dateStr(day: Int): String = java.time.LocalDate.ofEpochDay(day).toString

  /** The table as columns, updated by each merge batch in order. */
  final class Model(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val base = Array.tabulate(Rows)(_ => (rnd.nextInt(Parts) + 1L,
      rnd.nextInt(Supps) + 1L, rnd.nextInt(50) + 1, rnd.nextInt(11),
      Day0 + rnd.nextInt(ShipDays), rnd.nextInt(3), rnd.nextInt(7), rnd.between(900, 2100)))
    /** Merge batch j: updates of existing lines, then fresh lines appended
      * after every earlier batch's.
      */
    private val batches = Array.tabulate(MaxOps / Mix.map(_._2).sum + 1) { j =>
      val r = new scala.util.Random(seed * 31 + j)
      val updated = mutable.LinkedHashSet[Int]()
      while (updated.size < MergeRows - MergeInserts) updated += r.nextInt(Rows)
      (updated.toSeq ++ (0 until MergeInserts).map(Rows + j * MergeInserts + _)).map { row =>
        (row, r.nextInt(Parts) + 1L, r.nextInt(Supps) + 1L, r.nextInt(50) + 1,
          r.nextInt(11), Day0 + r.nextInt(ShipDays), r.nextInt(3), r.nextInt(7),
          r.between(900, 2100))
      }
    }
    var partkey = Array.emptyLongArray
    var qty, disc, ship = Array.emptyIntArray
    var size = 0

    def reset(): Unit = {
      val n = Rows + batches.length * MergeInserts
      partkey = new Array[Long](n)
      qty = new Array[Int](n); disc = new Array[Int](n); ship = new Array[Int](n)
      base.indices.foreach { i =>
        val (p, _, q, d, sd, _, _, _) = base(i)
        partkey(i) = p; qty(i) = q; disc(i) = d; ship(i) = sd
      }
      size = Rows
    }

    def applyMerge(j: Int): Unit = batches(j).foreach { case (row, p, _, q, d, sd, _, _, _) =>
      partkey(row) = p; qty(row) = q; disc(row) = d; ship(row) = sd
      size = math.max(size, row + 1)
    }

    def count(pred: Int => Boolean): Long = {
      var n = 0L; var i = 0
      while (i < size) { if (pred(i)) n += 1; i += 1 }
      n
    }

    private def key(row: Int) = (row / 4 + 1L, row % 4 + 1)
    private def cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount", "l_shipdate", "l_returnflag",
      "l_shipmode")
    private def tuple(row: Int, p: Long, s: Long, q: Int, d: Int, sd: Int, f: Int,
        m: Int, price: Int) = {
      val (ok, ln) = key(row)
      (ok, ln, p, s, q.toDouble, q * price / 100.0, d / 100.0,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(sd)), Flags(f), Modes(m))
    }

    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      spark.sparkContext.parallelize(base.indices.map { i =>
        val (p, s, q, d, sd, f, m, price) = base(i)
        tuple(i, p, s, q, d, sd, f, m, price)
      }, 4).toDF(cols: _*)
    }

    def mergeBatchesDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      val rows = batches.indices.flatMap(j => batches(j).map { case (row, p, s, q, d, sd, f, m, price) =>
        (tuple(row, p, s, q, d, sd, f, m, price), j) })
      spark.sparkContext.parallelize(rows, 4).map { case (t, j) =>
        (t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9, t._10, j) }
        .toDF(cols :+ "batch": _*)
    }

    def keyOf(row: Int): (Long, Int) = key(row)
  }

  /** The parameters of read `i`, drawn from the seed, and the answer the
    * model gives for them.
    */
  final class Request(seed: Long, val i: Int, model: Model) {
    /** One stream per parameter, so each is drawn only when its read runs. */
    private def r(param: Int) = new scala.util.Random(seed * 1000003L + i * 16L + param)
    lazy val part: Long = r(0).nextInt(Parts) + 1L
    lazy val smallParts: Seq[Long] = { val g = r(1); Seq.fill(SmallIn)(g.nextInt(Parts) + 1L).distinct }
    lazy val denseParts: Seq[Long] = r(2).shuffle((1L to Parts.toLong).toVector).take(DenseIn)
    def parts(kind: String): Seq[Long] = if (kind == "in_dense") denseParts else smallParts
    /** A window of `days` that lies inside the shipped-date domain. */
    private def window(days: Int) = {
      val start = Day0 + r(3).nextInt(ShipDays - days)
      (start, start + days - 1)
    }
    def dates(kind: String): (Int, Int) = kind match {
      case "range_narrow" => window(NarrowDays)
      case "range_wide" => window(WideDays)
      case _ => window(BoxDays)
    }
    lazy val qty: Int = r(4).nextInt(40) + 1
    lazy val partLo: Long = r(5).nextInt(Parts) + 1L
    /** Existing lines of the base load, and keys no batch ever inserts. */
    lazy val probes: Seq[(Long, Int)] = {
      val g = r(6)
      Seq.fill(LookupProbes - 4)(model.keyOf(g.nextInt(Rows))).distinct ++
        Seq.fill(4)((Rows.toLong * 10 + g.nextInt(1000), 1))
    }

    def expected(kind: String): Long = kind match {
      case "eq" => model.count(j => model.partkey(j) == part)
      case "in_small" | "in_dense" =>
        val set = new java.util.BitSet(Parts + 1)
        parts(kind).foreach(p => set.set(p.toInt))
        model.count(j => set.get(model.partkey(j).toInt))
      case "range_narrow" | "range_wide" =>
        val (lo, hi) = dates(kind)
        model.count(j => model.ship(j) >= lo && model.ship(j) <= hi)
      case "box" =>
        val (lo, hi) = dates(kind)
        model.count(j => model.ship(j) >= lo && model.ship(j) <= hi &&
          model.qty(j) >= qty && model.qty(j) <= qty + 10)
      case "scan_filter" =>
        model.count(j => model.partkey(j) >= partLo && model.partkey(j) <= partLo + 50 &&
          model.disc(j) < 5)
      case "lookup" => probes.distinct.count(_._1 <= Rows / 4).toLong
      case "fast_count" => model.size.toLong
      case "mv_read" => (Flags.length * Modes.length).toLong
    }
  }
}

/** Files and rows the file scans of an executed plan read, from their SQL
  * metrics (adaptive plans are walked into their final stages).
  */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    (scans.map(_.metrics.get("numFiles").fold(0L)(_.value)).sum,
      scans.map(_.metrics.get("numOutputRows").fold(0L)(_.value)).sum)
  }
}
