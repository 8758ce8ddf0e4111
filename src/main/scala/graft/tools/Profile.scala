package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev profiler on the exact Bench session (`GraftSession.build`):
  *
  *  - time: run ONE named SparkEntry query N times and print per-run
  *    wall times, so a slow bench entry can be iterated on without
  *    running the whole suite;
  *  - explain: print the formatted physical plans of the named queries
  *    (pushdown, broadcast, codegen coverage) — the plans Bench runs;
  *  - bpe: the tokenizer-training cost curve. Runs the BPE fit
  *    (`TextOps.bpeFitMerges`) at realistic merge counts, and once on
  *    the sampled-corpus contract, and prints ONE JSON line with
  *    per-config totals and the per-round cost shape (first/last-10
  *    round averages: flat rounds = linear total, the claim the
  *    BASELINE.md curve documents). Not part of the gate board: the
  *    gate trains at `TextOps.BpeMerges` unsampled; this prices the
  *    path to production vocab sizes.
  *
  * Usage: runMain graft.tools.Profile <queryName> [sfDir] [runs]
  *        runMain graft.tools.Profile explain <sfDir> <queryName>...
  *        runMain graft.tools.Profile bpe [sfDir]
  */
object Profile {
  private val DefaultSf = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.build(cpus)
    args.toSeq match {
      case Seq("explain", sfDir, names @ _*) => explain(spark, sfDir, names)
      case Seq("bpe", rest @ _*) => bpeCurve(spark, rest.headOption.getOrElse(DefaultSf))
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
    val sfDir = if (args.length > 1) args(1) else DefaultSf
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

  private def bpeCurve(spark: SparkSession, sfDir: String): Unit = {
    // (merges, sampleBuckets): the merge-count ladder unsampled, then
    // the largest count on the 25%-bucket sampled-corpus contract
    val configs = Seq((6, 100), (32, 100), (128, 100), (256, 100), (256, 25))
    val lines = configs.map { case (m, s) =>
      val t0 = System.nanoTime()
      val (merges, types, rounds) = graft.operators.TextOps.bpeFitMerges(spark, sfDir, m, s)
      val nTypes = types.count()
      val total = (System.nanoTime() - t0) / 1e9
      graft.GraftSession.dropAllBlocks(spark)
      def avg(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      s"""{"merges":$m,"sample_buckets":$s,"rounds_run":${rounds.size},""" +
        s""""learned":${merges.size},"n_types":$nTypes,"total_sec":$total,""" +
        s""""sec_per_round":${avg(rounds)},"first10_avg":${avg(rounds.take(10))},""" +
        s""""last10_avg":${avg(rounds.takeRight(10))}}"""
    }
    println(s"""{"metric":"bpe_curve","sf":"$sfDir","configs":[${lines.mkString(",")}]}""")
  }
}
