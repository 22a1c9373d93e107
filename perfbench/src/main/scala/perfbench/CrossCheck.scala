package perfbench

import org.apache.spark.sql.SparkSession

/** Instrument cross-check: runs registry queries the way the engine's
  * `graft.WorkProfile` does (one warm-up run, then one counted run, at the
  * same core count and shuffle partitions) and prints the jobs, stages and
  * tasks this benchmark's [[WorkListener]] counted, in WorkProfile's JSON
  * shape, so the two instruments can be compared query by query.
  *
  * {{{
  * CrossCheck <sf dir> <query,query,...> <cores>
  * }}}
  */
object CrossCheck {
  def main(args: Array[String]): Unit = {
    val Array(dir, names, cores) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, new Tracer(spark, false), listener)
    spark.read.parquet(s"$dir/region.parquet").count()
    val rows = names.split(",").toSeq.map { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, dir).count()
      ctx.settle()
      val before = listener.totals
      fn(spark, dir).count()
      ctx.settle()
      val w = listener.totals - before
      s"""  "$name": {"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks}}"""
    }
    println(rows.mkString("{\n", ",\n", "\n}"))
    spark.stop()
  }
}
