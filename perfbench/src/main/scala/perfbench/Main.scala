package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --dir <scratch dir> --out <output dir>
  * }}}
  *
  * Builds a `local[<cores>]` session, runs the workload's set-up
  * [[Harness.SetupReps]] times, runs operations until `--seconds` have
  * passed, verifies the outputs, and prints one line per metric followed
  * by a single JSON result line. `--trace 0` reports the end-to-end
  * metrics; `--trace 1` records spans and reports the per-layer metrics,
  * writing the spans to `<out>/spans_<workload>_seed<n>.jsonl`.
  */
object Main {
  val Workloads: Map[String, Long => Workload] = Map(
    "coin_backfill" -> (s => new CoinBackfill(s)),
    "lake_maintenance" -> (s => new LakeMaintenance(s)),
    "lake_serving" -> (s => new LakeServing(s)),
    "corpus_curation" -> (s => new CorpusCuration(s)))

  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val name = opts("workload")
    val make = Workloads.getOrElse(name, throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val workDir = java.nio.file.Paths.get(opts("dir"),
      s"$name-$seed-${ProcessHandle.current().pid()}")
    val outDir = java.nio.file.Paths.get(opts("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, new Tracer(spark, trace), listener)
    val wl = make(seed)
    try {
      val r = Harness.run(ctx, wl, workDir, seconds)
      val ok = r.samples.filter(_.error.isEmpty)
      val (e2e, tailNote) = Harness.endToEnd(r)
      val metrics =
        if (!trace) e2e
        else Layers.metrics(ctx.tracer.spans.toSeq, listener.jobRecords, ok.size,
          ok.flatMap(_.out).map(_.inputRows).sum, ok.flatMap(_.out).map(_.inputBytes).sum)
      val failed = r.samples.count(_.error.isDefined) + r.checks.count(!_._2)
      val attempted = r.samples.size + r.checks.size
      java.nio.file.Files.createDirectories(outDir)
      if (trace) java.nio.file.Files.write(
        outDir.resolve(s"spans_${name}_seed$seed.jsonl"),
        java.util.Arrays.asList(ctx.tracer.toJsonLines: _*))
      java.nio.file.Files.write(outDir.resolve(s"ops_${name}_seed${seed}_trace${opts("trace")}.tsv"),
        java.util.Arrays.asList(("op\tms\tjobs\tstages\ttasks\tcpu_ms\trows\terror" +:
          r.samples.zipWithIndex.map { case (s, i) =>
            Seq(i.toString, Json.fixed(s.ns / 1e6, 3), s.work.jobs.toString,
              s.work.stages.toString, s.work.tasks.toString, Json.fixed(s.work.cpuNs / 1e6, 3),
              s.out.fold("")(_.rows.toString), s.error.getOrElse("")).mkString("\t")
          }): _*))
      val out = Console.out
      out.println(s"[perfbench] $name seed=$seed trace=${if (trace) 1 else 0} " +
        s"cores=$cores session_s=${Json.fixed(sessionS, 3)} ops=${r.samples.size} $tailNote " +
        s"setups_s=${r.setupNs.map(n => Json.fixed(n / 1e9, 2)).mkString(",")} " +
        r.phaseNs.map { case (k, n) => s"${k}_s=${Json.fixed(n / 1e9, 2)}" }.mkString(" "))
      if (trace) out.println(s"[perfbench] end-to-end under tracing: " +
        e2e.map(m => s"${m.name}=${Json.fixed(m.value, 3)}").mkString(" "))
      r.checks.foreach { case (c, pass) =>
        out.println(s"[perfbench] check ${if (pass) "PASS" else "FAIL"}: $c") }
      metrics.foreach(m => out.println(s"[perfbench] ${m.name} = ${Json.fixed(m.value, 4)} ${m.unit}"))
      out.println(resultJson(failed == 0, attempted, failed, metrics))
      out.flush()
    } finally {
      wl.close()
      spark.stop()
      Disk.deleteTree(workDir)
    }
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map(m => s"""${Json.str(m.name)}: {"value": ${Json.num(m.value)}, """ +
        s""""unit": ${Json.str(m.unit)}}""").mkString("{", ", ", "}}")
}
