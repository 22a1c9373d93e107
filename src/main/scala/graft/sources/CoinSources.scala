package graft.sources

import graft.schema.CoinSchemas
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lake readers for the coin medallion layers (SURVEY §2.1 S2-S4).
  *
  * Bronze is a JSON *array* file per partition (not JSON-lines) whose null
  * `roi` serializes as bare `NaN` — invalid strict JSON (reference writes it
  * at `dags/coin_data_pipeline_optimized.py:222-229`) — so the reader needs
  * `multiLine` + `allowNonNumericNumbers`. Schema is always supplied
  * explicitly: schema inference costs an extra full pass over the data, which
  * is unaffordable at scale and non-deterministic under dirty input.
  */
object CoinSources {

  /** Bronze JSON for one partition dir (or the partitioned root). */
  def readBronzeJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(CoinSchemas.bronze)
      .option("multiLine", value = true)
      .option("allowNonNumericNumbers", value = true)
      .json(path)

  /** Raw-zone CSV twin (header, no index column). */
  def readRawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(CoinSchemas.bronze)
      .option("header", value = true)
      .csv(path)

  /** Silver parquet as the engine publishes it, read with the declared
    * [[CoinSchemas.silverV1]]: no schema-inference job, and a column missing
    * from the files reads as nulls that the V1 contract counts and fails.
    * Not for the checked-in reference fixture: pandas wrote its `timestamp`
    * as TIMESTAMP(NANOS), which Spark's vectorized reader rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong` is set (and then it is a long).
    */
  def readSilver(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(CoinSchemas.silverV1).parquet(path)

  /** Gold parquet as the engine publishes it, read with [[CoinSchemas.goldDaily]]. */
  def readGold(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(CoinSchemas.goldDaily).parquet(path)
}

/** Driver-side ingest source (SURVEY §2.1 S1). The reference fetches
  * CoinGecko `/coins/markets?vs_currency=usd&order=market_cap_desc` with a
  * 10 s timeout (`dags/coin_data_pipeline_optimized.py:158-183`). Kept behind
  * a trait so tests and the zero-egress environment inject fixture JSON
  * instead of the network.
  */
trait CoinMarketsFetcher {

  /** Returns the raw JSON payload (an array of market records). */
  def fetchJson(): String

  /** Parse the fetched payload into a bronze-schema DataFrame. */
  def fetchDataFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ds = spark.createDataset(Seq(fetchJson()))
    spark.read
      .schema(CoinSchemas.bronze)
      .option("multiLine", value = true)
      .option("allowNonNumericNumbers", value = true)
      .json(ds)
  }
}

/** Non-2xx response — the engine's `raise_for_status` twin. */
final case class HttpStatusException(status: Int, url: String)
    extends RuntimeException(s"HTTP $status from $url")

/** Live HTTP fetcher. Semantics mirror the reference's extract contract
  * (`coin_data_pipeline_optimized.py:158-183` + DAG `default_args`):
  * GET with a 10 s timeout, raise-for-status on non-2xx, and `retries`
  * re-attempts after `retryDelayMs` on timeout/connect/5xx-class failures
  * (the reference retries via Airflow task retries — its 5-MINUTE retry
  * spacing is an orchestrator concern; an in-process fetch sleeping minutes
  * would hold its slot hostage, so the in-path default is 1 s and long
  * spacing belongs to whatever reruns the job). 4xx responses do NOT
  * retry — a malformed request won't improve on resend. Tests exercise all
  * of this against an in-process localhost server; no egress involved.
  */
final class HttpCoinMarketsFetcher(
    url: String =
      "https://api.coingecko.com/api/v3/coins/markets?vs_currency=usd&order=market_cap_desc",
    timeoutSeconds: Long = 10L,
    retries: Int = 1,
    retryDelayMs: Long = 1000L
) extends CoinMarketsFetcher {

  private def attempt(): String = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds)).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(timeoutSeconds)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2) throw HttpStatusException(resp.statusCode(), url)
    resp.body()
  }

  override def fetchJson(): String = {
    var attemptsLeft = math.max(0, retries)
    while (true) {
      try return attempt()
      catch {
        case e: HttpStatusException if e.status < 500 => throw e
        case e @ (_: java.io.IOException | _: HttpStatusException) =>
          if (attemptsLeft == 0) throw e
          attemptsLeft -= 1
          if (retryDelayMs > 0) Thread.sleep(retryDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Fixture-backed fetcher for tests and offline runs. */
final class FixtureCoinMarketsFetcher(path: String) extends CoinMarketsFetcher {
  override def fetchJson(): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
}
