package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round harness (guide §1.4/§1.5): NOT part of the frozen
  * driver bench. Runs named queries (or all) with the noop sink so the
  * computation is timed without the count()-vs-full-materialization
  * ambiguity, labels each job, and dumps `.explain("formatted")` for each
  * query to plans/<tag>/<name>_<suffix>.txt so plan-shape claims in
  * OPTIMIZATION_r*.md are checkable offline.
  *
  * Usage: sbt "runMain graft.BenchExtra <suffix> [query ...]"
  *   suffix: e.g. before / after (file name suffix for the plan dumps)
  *   query:  query names; none = all declared queries
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench),
  *      SPARK_GRAFT_PLANS_DIR (default plans/r07), SPARK_GRAFT_REPS
  *      (default 2; timing = min over reps after one warm rep). */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val wanted = args.drop(1).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r07")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(plansDir).mkdirs()

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
    // a query that throws in any run has no timing (None)
    val results = qs.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"bench-extra: $name")
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench-extra] $name failed: $e"); None }
      }
      val runs = (0 to reps).map(_ => once()) // the first run is the warm-up
      val t = if (runs.forall(_.isDefined)) Some(runs.tail.flatten.min) else None
      // plan dump AFTER the runs (DML scratch dirs exist by now)
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$plansDir/${name}_$suffix.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[bench-extra] $name plan dump failed: $e") }
      spark.sparkContext.setJobDescription(null)
      name -> t
    }
    val json = summary(results, sfDir, suffix)
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$plansDir/bench_extra_$suffix.json"), json + "\n")
    spark.stop()
  }

  /** The one-line JSON result. A failed query (None) is emitted as null,
    * listed under "failed" and left out of noop_total. */
  private[graft] def summary(results: Seq[(String, Option[Double])],
                             sfDir: String, suffix: String): String = {
    val js = results.map {
      case (k, Some(v)) => "\"" + k + f"\":$v%.3f"
      case (k, None) => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    f"""{"metric":"noop_total","value":$total%.3f,"unit":"sec","queries":$js,"failed":$failed,"sf":"$sfDir","suffix":"$suffix"}"""
  }
}
