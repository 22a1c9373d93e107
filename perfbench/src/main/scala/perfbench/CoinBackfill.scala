package perfbench

import graft.orchestration.CoinDag
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The paper's own traffic: all 14 `CoinDag` stages per day over
  * consecutive days, each day one page of [[CoinBackfill.Coins]] coins in the
  * reference's NaN-bearing `/coins/markets` JSON, served from a localhost
  * endpoint so `extract` runs too. Day 0 is the set-up's delivery (it
  * creates the tables); the timed deliveries start at day 1.
  */
final class CoinBackfill(seed: Long) extends Workload {
  import CoinBackfill._
  val name = "coin_backfill"
  private val days = mutable.ArrayBuffer[Day]()
  private val gen = new CoinGen(seed)
  private var server: com.sun.net.httpserver.HttpServer = _
  private var root: String = _
  private var delivered = 0

  private def day(d: Int): Day = {
    while (days.size <= d) days += gen.next(dsOf(days.size))
    days(d)
  }

  private def startServer(): Unit = {
    server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    server.createContext("/markets/", ex => {
      val ds = ex.getRequestURI.getPath.stripPrefix("/markets/")
      val body = days.find(_.ds == ds).map(_.json.getBytes("UTF-8"))
      ex.sendResponseHeaders(if (body.isDefined) 200 else 404, body.fold(-1L)(_.length.toLong))
      body.foreach(b => ex.getResponseBody.write(b))
      ex.close()
    })
    server.start()
  }

  private def conf(ds: String) = CoinDag.StageConf(
    ds = ds, rawRoot = s"$root/raw", bronzeRoot = s"$root/bronze",
    lakeRoot = s"$root/lake", serveRoot = s"$root/serve",
    apiUrl = Some(s"http://127.0.0.1:${server.getAddress.getPort}/markets/$ds"),
    scheduled = false)

  private def deliver(ctx: Ctx, d: Int): OpOut = {
    val dd = day(d)
    val c = conf(dd.ds)
    ctx.tracer.span("delivery", d) {
      CoinDag.stageChain.foreach(s =>
        ctx.tracer.span(StageSpans(s), d)(CoinDag.runStage(ctx.spark, s, c)))
    }
    delivered = d + 1
    OpOut(dd.coins.size, dd.coins.size, dd.json.getBytes("UTF-8").length)
  }

  def setup(ctx: Ctx, root: String): Unit = {
    if (server == null) startServer()
    this.root = root
    deliver(ctx, 0)
  }

  val maxOps = MaxDays - 1
  override def cycle: Int = 2
  def op(ctx: Ctx, i: Int): OpOut = deliver(ctx, i + 1)

  def verify(ctx: Ctx): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    import spark.implicits._
    val payload = days.take(delivered).flatMap(d => d.coins.map(c =>
      (d.ds, c.id, c.price, c.marketCap))).toSeq.toDF("dt", "coin_id", "price", "mcap")
    val model = payload.groupBy("dt", "coin_id").agg(
      avg("price").as("avg_price_usd"), min("price").as("min_price_usd"),
      max("price").as("max_price_usd"),
      avg(col("mcap").cast("double")).as("avg_market_cap"))
    val served = spark.read.parquet(s"$root/serve/gold_coin_daily_metrics")
      .select("dt", "coin_id", "avg_price_usd", "min_price_usd",
        "max_price_usd", "avg_market_cap")
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val m = model.collect().map(r => (r.getString(0), r.getString(1)) ->
      (2 to 5).map(r.getDouble)).toMap
    val s = served.collect().map(r => (r.getString(0), r.getString(1)) ->
      (2 to 5).map(r.getDouble)).toMap
    val goldOk = m.size == s.size && m.forall { case (k, v) =>
      s.get(k).exists(_.zip(v).forall { case (a, b) => close(a, b) }) }
    val coins = days.take(delivered).flatMap(_.coins.map(_.id)).distinct.size
    Seq(
      "served gold equals the groupBy over generated payloads" -> goldOk,
      "dimension rows equal distinct coins" ->
        (spark.read.parquet(s"$root/serve/coin_dimension").count() == coins),
      "fact rows equal coin-days delivered" ->
        (spark.read.parquet(s"$root/serve/coin_prices_fact").count() ==
          days.take(delivered).map(_.coins.size).sum))
  }

  def userBytes: Long = days.take(delivered).map(_.json.getBytes("UTF-8").length.toLong).sum
  def outputRoots: Seq[String] = Seq(root)
  override def close(): Unit = if (server != null) server.stop(0)
}

object CoinBackfill {
  /** The reference's page size: one `/coins/markets` page per day. */
  val Coins = 100
  val MaxDays = 400

  /** Span name per stage: the engine module the stage dispatches to. */
  val StageSpans: Map[String, String] = Map(
    "create_tables" -> "sinks.create_tables",
    "extract" -> "sources.extract",
    "upload_raw_to_s3" -> "sinks.lake_publish",
    "transform_bronze_to_silver" -> "ops.bronze_to_silver",
    "validate" -> "expectations.validate",
    "load_dim" -> "sinks.merge_insert_ignore",
    "load_fact" -> "sinks.merge_insert_ignore",
    "build_gold_minio" -> "ops.gold_daily",
    "load_gold_postgres" -> "pipeline.upsert_serve",
    "validate_gold_row_count" -> "ops.gold_gates",
    "validate_gold_sanity" -> "ops.gold_gates",
    "validate_gold_freshness" -> "ops.gold_gates",
    "validate_gold_sla" -> "ops.gold_gates",
    "validate_gold" -> "ops.gold_gates")

  def dsOf(d: Int): String = java.time.LocalDate.of(2025, 1, 1).plusDays(d).toString

  final case class Coin(id: String, price: Double, marketCap: Long)
  final case class Day(ds: String, coins: Seq[Coin], json: String)

  /** Seeded price walks for a fixed set of coins, rendered day by day as
    * the reference payload: 26 fields, `roi` always a bare `NaN`, and
    * `max_supply` a bare `NaN` for uncapped coins.
    */
  final class CoinGen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val base = (0 until Coins).map { i =>
      (f"coin-$i%03d", math.exp(rnd.between(math.log(0.01), math.log(50000.0))),
        rnd.between(1e6, 2e10), rnd.nextBoolean())
    }
    private val walk = Array.fill(Coins)(0.0)

    def next(ds: String): Day = {
      val coins = base.indices.map { i =>
        walk(i) += rnd.nextGaussian() * 0.03
        val (id, p0, supply, _) = base(i)
        val price = BigDecimal(p0 * math.exp(walk(i))).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble.max(0.000001)
        Coin(id, price, (price * supply).toLong)
      }
      val json = coins.zipWithIndex.map { case (c, i) =>
        val (_, _, supply, capped) = base(i)
        val ts = f"${ds}T${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d.${rnd.nextInt(1000)}%03dZ"
        def n(d: Double) = Json.num(d)
        Seq(
          "\"id\": " + Json.str(c.id), "\"symbol\": " + Json.str(c.id.takeRight(3)),
          "\"name\": " + Json.str(s"Coin ${c.id}"),
          "\"image\": " + Json.str(s"https://images.example/${c.id}.png"),
          "\"current_price\": " + n(c.price), "\"market_cap\": " + c.marketCap,
          "\"market_cap_rank\": " + (i + 1), "\"fully_diluted_valuation\": " + c.marketCap,
          "\"total_volume\": " + n(c.marketCap * 0.05), "\"high_24h\": " + n(c.price * 1.02),
          "\"low_24h\": " + n(c.price * 0.98), "\"price_change_24h\": " + n(c.price * 0.01),
          "\"price_change_percentage_24h\": 1.0", "\"market_cap_change_24h\": " + n(c.marketCap * 0.01),
          "\"market_cap_change_percentage_24h\": 1.0", "\"circulating_supply\": " + n(supply),
          "\"total_supply\": " + n(supply),
          "\"max_supply\": " + (if (capped) n(supply * 2) else "NaN"),
          "\"ath\": " + n(c.price * 3), "\"ath_change_percentage\": -66.6",
          "\"ath_date\": \"2024-03-14T07:10:36.635Z\"", "\"atl\": " + n(c.price / 3),
          "\"atl_change_percentage\": 200.0", "\"atl_date\": \"2015-10-20T00:00:00.000Z\"",
          "\"roi\": NaN", "\"last_updated\": " + Json.str(ts)).mkString("{", ", ", "}")
      }.mkString("[", ", ", "]")
      Day(ds, coins, json)
    }
  }
}
