package perfbench

import graft.orchestration.LakeDag
import graft.sinks.{LakeTable, MaterializedView}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The commit-bound path: all 7 `LakeDag` stages per delivery against a
  * keyed orders table. Day 0 (set-up) loads [[LakeMaintenance.BaseRows]]
  * orders and creates the table and its view; later deliveries alternate
  * a large upsert/delete set that touches every bucket with a small one
  * that touches a few. Each timed cycle is a large delivery and the small
  * one after it, starting at delivery 1.
  */
final class LakeMaintenance(seed: Long) extends Workload {
  import LakeMaintenance._
  val name = "lake_maintenance"
  private lazy val deliveries: IndexedSeq[Delivery] = generate(seed)
  private var root: String = _
  private var delivered = 0

  private def conf(d: Int) = LakeDag.StageConf(ds = dsOf(d),
    inputRoot = s"$root/input", lakeRoot = s"$root/lake")

  private def deliver(ctx: Ctx, d: Int): OpOut = {
    val c = conf(d)
    ctx.tracer.span("delivery", d) {
      LakeDag.stageChain.foreach(s =>
        ctx.tracer.span(StageSpans(s), d)(LakeDag.runStage(ctx.spark, s, c)))
    }
    delivered = d + 1
    val n = deliveries(d).upserts.size + deliveries(d).deletes.size
    OpOut(n, n, bytesOf(d))
  }

  private def bytesOf(d: Int): Long = Seq("upserts", "deletes").map(k =>
    Disk.treeBytes(java.nio.file.Paths.get(s"$root/input/$k/dt=${dsOf(d)}"))).sum

  def setup(ctx: Ctx, root: String): Unit = {
    this.root = root
    val spark = ctx.spark
    import spark.implicits._
    val ups = deliveries.zipWithIndex.flatMap { case (d, i) =>
      d.upserts.map(o => (o.key, o.cust, o.status, o.price, o.date, o.priority, dsOf(i))) }
    spark.sparkContext.parallelize(ups, 4)
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "dt")
      .write.partitionBy("dt").parquet(s"$root/input/upserts")
    val dels = deliveries.zipWithIndex.flatMap { case (d, i) => d.deletes.map(k => (k, dsOf(i))) }
    spark.sparkContext.parallelize(dels, 4).toDF("o_orderkey", "dt")
      .write.partitionBy("dt").parquet(s"$root/input/deletes")
    deliver(ctx, 0)
  }

  def maxOps: Int = Deliveries
  override def cycle: Int = 2
  def op(ctx: Ctx, i: Int): OpOut = deliver(ctx, i + 1)

  def verify(ctx: Ctx): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    import spark.implicits._
    val live = mutable.LongMap[Order]()
    deliveries.take(delivered).foreach { d =>
      d.upserts.foreach(o => live(o.key) = o)
      d.deletes.foreach(live.remove)
    }
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val model = spark.sparkContext.parallelize(live.values.toSeq.map(o =>
      (o.key, o.cust, o.status, o.price, o.date, o.priority)), 4).toDF(cols: _*)
    val table = LakeTable.read(spark, s"$root/lake/table").select(cols.map(col): _*)
    val tableOk = table.count() == live.size &&
      table.exceptAll(model).isEmpty && model.exceptAll(table).isEmpty
    def groups(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    val expected = groups(model.groupBy("o_orderpriority").agg(count(lit(1)),
      sum(col("o_totalprice").cast("decimal(38,6)"))))
    val served = groups(MaterializedView.read(spark, s"$root/lake/view")
      .select("o_orderpriority", "cnt", "sum_o_totalprice"))
    val viewOk = expected.keySet == served.keySet && expected.forall { case (g, (n, s)) =>
      served(g)._1 == n && served(g)._2.compareTo(s) == 0 }
    val reports = spark.read.parquet(s"$root/lake/report")
      .select("consistent", "integrity_ok").collect()
    Seq(
      "table equals last-writer-wins upserts minus deletes" -> tableOk,
      "view equals the groupBy over the model" -> viewOk,
      "every audit_report row is consistent and intact" ->
        (reports.length == delivered &&
          reports.forall(r => r.getBoolean(0) && r.getBoolean(1))))
  }

  def userBytes: Long = (0 until delivered).map(bytesOf).sum
  def outputRoots: Seq[String] = Seq(s"$root/lake")
}

object LakeMaintenance {
  /** Orders in the base load: a fifth of sf0.1, so that a small and a
    * large delivery together take a few seconds.
    */
  val BaseRows = 30000
  /** Deliveries after the base load: large, small, large, ... */
  val Deliveries = 24
  val LargeUpdates = 400
  val LargeInserts = 200
  val LargeDeletes = 120
  val SmallUpdates = 2
  val SmallInserts = 1
  val SmallDeletes = 1

  val StageSpans: Map[String, String] = Map(
    "ingest_upserts" -> "sinks.lake_merge",
    "apply_deletes" -> "sinks.lake_delete_mor",
    "compact_maintenance" -> "sinks.lake_compact",
    "compact_metadata" -> "sinks.lake_compact_metadata",
    "refresh_views" -> "sinks.mv_refresh",
    "vacuum_retention" -> "sinks.lake_vacuum",
    "audit_report" -> "sinks.lake_audit")

  def dsOf(d: Int): String = java.time.LocalDate.of(2025, 1, 1).plusDays(d).toString

  final case class Order(key: Long, cust: Long, status: String, price: Double,
      date: java.sql.Date, priority: String)
  final case class Delivery(upserts: Seq[Order], deletes: Seq[Long])

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Seq("F", "O", "P")

  /** Day 0 is the base load; every later delivery updates and deletes keys
    * live at that point and inserts fresh ones, so the model is a plain
    * replay. Prices are whole cents, exact in the view's DECIMAL sums.
    */
  def generate(seed: Long): IndexedSeq[Delivery] = {
    val rnd = new scala.util.Random(seed)
    val day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay
    def order(key: Long) = Order(key, rnd.between(1L, 15001L),
      Statuses(rnd.nextInt(Statuses.size)), rnd.between(90000L, 50000000L) / 100.0,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day0 + rnd.nextInt(2400))),
      Priorities(rnd.nextInt(Priorities.size)))
    val live = mutable.ArrayBuffer[Long]()
    val slot = mutable.LongMap[Int]()
    def add(k: Long): Unit = { slot(k) = live.size; live += k }
    def remove(k: Long): Unit = {
      val i = slot.remove(k).get
      val last = live.remove(live.size - 1)
      if (last != k) { live(i) = last; slot(last) = i }
    }
    var nextKey = 1L
    def fresh(): Long = { val k = nextKey; nextKey += 4; k }
    val base = (0 until BaseRows).map { _ => val k = fresh(); add(k); order(k) }
    Delivery(base, Nil) +: (1 to Deliveries).map { d =>
      val large = d % 2 == 1
      val (nu, ni, nd) =
        if (large) (LargeUpdates, LargeInserts, LargeDeletes)
        else (SmallUpdates, SmallInserts, SmallDeletes)
      val picked = mutable.LinkedHashSet[Long]()
      while (picked.size < nu + nd) picked += live(rnd.nextInt(live.size))
      val (upd, del) = picked.toSeq.splitAt(nu)
      val inserts = Seq.fill(ni)(fresh())
      del.foreach(remove)
      inserts.foreach(add)
      Delivery((upd ++ inserts).map(order), del)
    }
  }
}
