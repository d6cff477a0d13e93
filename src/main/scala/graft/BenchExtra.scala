package graft

import org.apache.spark.sql.SparkSession

/** Extra (non-contract) benchmark tooling for the optimization rounds —
  * guide §1: isolate each query with the noop sink so the computation is
  * timed without the sink, and capture `.explain("formatted")` for the plan
  * evidence in plans/r06/.
  *
  * Usage (same session shape as the driver's queries child):
  *   runMain graft.BenchExtra <tag> [query,query,...]
  *
  * For every selected query this prints
  *   XT <name> <count-action secs> <noop secs>
  * and writes plans/r06/<name>_<tag>.txt with the formatted physical plan.
  * Queries run in the driver's alphabetical order so stage-cache effects
  * match the official per-query table. The contract harness
  * (Bench/BenchChild/Verify) is untouched.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val tag = if (args.nonEmpty) args(0) else "before"
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = BenchChild.session(cores)
    val planDir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r06"))
    planDir.mkdirs()

    Option(System.getProperty("SPARK_BENCH_ARTIFACTS"))
      .filter(d => new java.io.File(s"$d/meta").isDirectory)
      .foreach(d => Pipeline.primeArtifacts(spark, Pipeline.loadArtifacts(spark, d)))

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"xq:$name")
        val t0 = System.nanoTime()
        val df = try fn(spark, sfDir) catch { case e: Throwable =>
          println(s"XT $name FAILED ${e.getMessage}"); null
        }
        if (df != null) {
          val cnt = df.count()
          val tCount = (System.nanoTime() - t0) / 1e9
          // plan AFTER the action so AQE-final details and reused stages
          // reflect what actually ran at least once
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            planDir.toPath.resolve(s"${name}_$tag.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val tNoop = (System.nanoTime() - t1) / 1e9
          println(f"XT $name%s $tCount%.3f $tNoop%.3f rows=$cnt%d")
        }
        spark.sparkContext.setJobDescription(null)
      }
    spark.stop()
  }
}
