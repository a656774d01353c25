package graft.tools

/** Optimization-round profiler: for each named `SparkEntry.queries`
  * entry, dump the formatted physical plan to `<outDir>/<name>.txt`
  * and time THREE runs (first pass = plan compile + codegen + run;
  * two warm re-runs) with the same count() action the bench uses —
  * the per-query evidence loop of an optimization round
  * (`runMain graft.tools.OptProfile <sfDir> <outDir> <n1,n2,...>`). */
object OptProfile {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = (args(0), args(1), args(2).split(",").toSeq)
    val spark = graft.Sessions.local("graft-optprofile")
    new java.io.File(outDir).mkdirs()
    // one warm-up so the first profiled query doesn't absorb session start
    spark.range(1000000).selectExpr("id % 97 AS k").groupBy("k").count().count()
    graft.sources.Tables.lineitem(spark, sfDir).limit(1000).count()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val times = (1 to 3).map { i =>
        spark.sparkContext.setJobDescription(s"optprofile:$name#$i")
        graft.Bench.timedCount(spark, sfDir, graft.SparkEntry.queries(name))
      }
      println(f"OPTPROF $name%-26s first=${times(0)}%7.3f warm=${times(1)}%7.3f / ${times(2)}%7.3f s")
    }
    spark.stop()
  }
}
