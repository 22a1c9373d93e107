package graft

import graft.orchestration.{CoinDag, CoinStageRunner}
import graft.pipeline.CoinPipeline
import java.nio.file.{Files, Paths}

/** The orchestration twin must stay honest three ways: the chain matches
  * the reference DAG task-for-task, the checked-in Airflow artifact matches
  * the generator byte-for-byte, and the per-stage decomposition replays the
  * full pipeline to the same final state as the in-process composition.
  */
class OrchestrationSpec extends SparkTestBase {

  private val dt = "2026-01-13"

  test("stage chain matches the reference 14-task dependency order") {
    // dags/coin_data_pipeline_optimized.py:1243
    CoinDag.stageChain shouldBe Seq(
      "create_tables", "extract", "upload_raw_to_s3",
      "transform_bronze_to_silver", "validate", "load_dim", "load_fact",
      "build_gold_minio", "load_gold_postgres", "validate_gold_row_count",
      "validate_gold_sanity", "validate_gold_freshness", "validate_gold_sla",
      "validate_gold")
    CoinDag.stageChain should have length 14
  }

  test("checked-in Airflow DAG artifact matches the generator exactly") {
    val checkedIn = Files.readString(Paths.get("orchestration/coin_pipeline_dag.py"))
    checkedIn shouldBe CoinDag.renderAirflowDag()
  }

  test("DAG artifact carries the reference retry policy and the full linear chain") {
    val dag = CoinDag.renderAirflowDag()
    dag should include(""""retries": 2""")
    dag should include("timedelta(minutes=5)")
    dag should include("depends_on_past")
    dag should include(CoinDag.stageChain.mkString(" >> "))
    // one SparkSubmitOperator per task, each passing its own stage id
    CoinDag.stageChain.foreach { s =>
      dag should include(s"""task_id="$s"""")
      dag should include(s""""--stage", "$s"""")
    }
  }

  test("stage-by-stage replay converges to the same state as the in-process run") {
    val work  = Files.createTempDirectory("graft-orch").toString
    val conf = CoinDag.StageConf(
      ds = dt,
      rawRoot = s"$work/raw",
      bronzeRoot = s"$work/bronze",
      lakeRoot = s"$work/lake",
      serveRoot = s"$work/serve",
      // manual backfill long after the day: the SLA gate must not fire
      scheduled = false)

    // offline twin of `extract`: stage the reference fixture as the raw file
    Files.createDirectories(Paths.get(conf.rawRoot))
    Files.copy(
      Paths.get(fixture(s"crypto-lake/bronze/coins/dt=$dt/coin_raw.json")),
      Paths.get(conf.rawFile))

    CoinDag.stageChain.filterNot(_ == "extract").foreach { stage =>
      withClue(s"stage $stage: ") {
        noException should be thrownBy CoinDag.runStage(spark, stage, conf)
      }
    }

    // final state equals the in-process EP1 run over the same fixture
    val lake2 = Files.createTempDirectory("graft-orch-ref").toString
    val serve2 = Files.createTempDirectory("graft-orch-ref-serve").toString
    val ref = CoinPipeline.run(spark, dt, fixture("crypto-lake/bronze"), lake2, serve2)

    spark.read.parquet(s"${conf.lakeRoot}/silver/coins/dt=$dt").count() shouldBe ref.silverRows
    spark.read.parquet(s"${conf.goldDir}").count() shouldBe ref.goldRows
    val served    = spark.read.parquet(s"${conf.serveRoot}/gold_coin_daily_metrics")
    val servedRef = spark.read.parquet(s"$serve2/gold_coin_daily_metrics")
    served.count() shouldBe servedRef.count()
    // row-level agreement on the served gold table
    served.exceptAll(servedRef).count() shouldBe 0L
    servedRef.exceptAll(served).count() shouldBe 0L

    // warehouse dim/fact tables exist with key-unique rows
    val dim = spark.read.parquet(conf.dimTable)
    val dimCount = dim.count()
    dimCount shouldBe dim.dropDuplicates("coin_id").count()
    val fact = spark.read.parquet(conf.factTable)
    val factCount = fact.count()
    factCount shouldBe fact.dropDuplicates("coin_id", "timestamp").count()
    val servedCount = served.count()

    // retrying individual tasks converges (Airflow retry semantics):
    // re-running the dim/fact loads must not append duplicates, and
    // re-running the gold build + serve load must not change the table
    Seq("load_dim", "load_fact", "build_gold_minio", "load_gold_postgres")
      .foreach(CoinDag.runStage(spark, _, conf))
    spark.read.parquet(conf.dimTable).count() shouldBe dimCount
    spark.read.parquet(conf.factTable).count() shouldBe factCount
    spark.read.parquet(s"${conf.serveRoot}/gold_coin_daily_metrics")
      .count() shouldBe servedCount
  }

  /** A fresh work tree whose raw zone holds the fixture payloads of `days`. */
  private def stagedConf(prefix: String, days: String*): Seq[CoinDag.StageConf] = {
    val work = Files.createTempDirectory(prefix).toString
    days.map { d =>
      val c = CoinDag.StageConf(d, s"$work/raw", s"$work/bronze", s"$work/lake",
        s"$work/serve")
      Files.createDirectories(Paths.get(c.rawRoot))
      Files.copy(Paths.get(fixture(s"crypto-lake/bronze/coins/dt=$d/coin_raw.json")),
        Paths.get(c.rawFile))
      c
    }
  }

  test("create_tables leaves the caller's job description as it found it") {
    val Seq(conf) = stagedConf("graft-orch-ddl", dt)
    val sc = spark.sparkContext
    val before = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("caller's label")
    try {
      CoinDag.runStage(spark, "create_tables", conf)
      sc.getLocalProperty("spark.job.description") shouldBe "caller's label"
    } finally sc.setJobDescription(before)
  }

  test("a second-day delivery runs within its Spark job budget") {
    // Every lake read of a dataset the DAG wrote itself carries its declared
    // schema, and publish counts rows from footers: a read that falls back
    // to schema inference, or a count that goes back to Spark, adds a job
    // here. Before the declared schemas and footer counts this was 49.
    val Seq(day1, day2) = stagedConf("graft-orch-budget", "2026-01-10", dt)
    CoinDag.stageChain.filterNot(_ == "extract").foreach(CoinDag.runStage(spark, _, day1))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      CoinDag.stageChain.dropWhile(_ != "upload_raw_to_s3")
        .foreach(CoinDag.runStage(spark, _, day2))
      org.apache.spark.graftbridge.GraftCoreBridge.waitListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val sites = jobs.iterator().asScala.toSeq
    withClue(sites.groupBy(identity).map { case (k, v) => s"${v.size} x $k" }
        .toSeq.sorted.mkString("jobs by call site: ", "; ", "\n")) {
      sites.size shouldBe 30
    }
  }

  test("a published silver partition without market_cap still fails validate") {
    // the declared read schema turns the missing column into nulls; the V1
    // contract counts them, so the gate is as strict as inference was
    val Seq(conf) = stagedConf("graft-orch-nomcap", dt)
    Seq("create_tables", "upload_raw_to_s3", "transform_bronze_to_silver")
      .foreach(CoinDag.runStage(spark, _, conf))
    val silver = spark.read.parquet(conf.silverDir).drop("market_cap").localCheckpoint()
    graft.sinks.LakeSink.publishPartition(spark, silver, conf.lakeRoot, "silver/coins",
      conf.ds, "v1", conf.bronzeDir)
    val e = intercept[graft.contract.SchemaContractViolation] {
      CoinDag.runStage(spark, "validate", conf)
    }
    e.getMessage should include("market_cap__null: 100 rows")
  }

  test("SLA stage fails a late scheduled run but passes a manual one") {
    val work = Files.createTempDirectory("graft-orch-sla").toString
    val base = CoinDag.StageConf(dt, work, work, work, work,
      now = java.time.Instant.parse("2026-01-14T10:00:00Z"))
    intercept[graft.ops.QualityGateFailure] {
      CoinDag.runStage(spark, "validate_gold_sla", base.copy(scheduled = true))
    }
    noException should be thrownBy
      CoinDag.runStage(spark, "validate_gold_sla", base.copy(scheduled = false))
  }

  test("runner arg parsing and unknown-stage rejection") {
    CoinStageRunner.parseArgs(Array("--stage", "validate", "--ds", "2026-01-13")) shouldBe
      Map("stage" -> "validate", "ds" -> "2026-01-13")
    val work = Files.createTempDirectory("graft-orch-bad").toString
    intercept[IllegalArgumentException] {
      CoinDag.runStage(spark, "no_such_stage",
        CoinDag.StageConf(dt, work, work, work, work))
    }
  }
}
