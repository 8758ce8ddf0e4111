package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev profiler on the exact Bench session (`GraftSession.build`):
  *
  *  - time: run ONE named SparkEntry query N times and print per-run
  *    wall times, so a slow bench entry can be iterated on without
  *    running the whole suite;
  *  - explain: print the formatted physical plans of the named queries
  *    (pushdown, broadcast, codegen coverage) — the plans Bench runs.
  *
  * Usage: runMain graft.tools.Profile <queryName> [sfDir] [runs]
  *        runMain graft.tools.Profile explain <sfDir> <queryName>...
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.build(cpus)
    args.toSeq match {
      case Seq("explain", sfDir, names @ _*) => explain(spark, sfDir, names)
      case _ => time(spark, args)
    }
    spark.stop()
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (name <- names) {
      println(s"========== $name ==========")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }

  private def time(spark: SparkSession, args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries(name)
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.GraftSession.dropAllBlocks(spark)
      println(f"[profile] $name run $i: $dt%.2f s")
    }
  }
}
