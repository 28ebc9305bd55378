package graft

import java.nio.file.{Files, Paths}

/** Plan auditor: dumps formatted physical plans for the headline queries so
  * pushdown / broadcast / codegen properties can be reviewed and pinned.
  * `sbt "runMain graft.Plans [sfDir] [outFile]"`.
  */
object Plans {
  val Headline: Seq[String] = Seq(
    "q_agg_groupby", "q_join_broadcast", "q_join_reduce_side", "q_topn_per_group",
    "q_dedup_minhash", "q_ann_bruteforce", "q_grep",
    "q_cogroup_multi", "q_ann_ivfpq", "q_nb_classify", "q_topic_fp_bits",
    "q_dedup_containment", "q_triangles", "q_quality_filter",
    "q_bfs", "q_bloom_join")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // per-query dump mode (the optimization-round plan artifacts):
    //   runMain graft.Plans <sfDir> --dir <outDir> <suffix> q1 q2 ...
    // writes <outDir>/<query>_<suffix>.txt for each named query.
    if (args.lift(1).contains("--dir")) {
      if (args.length < 4) {
        System.err.println(
          "usage: runMain graft.Plans <sfDir> --dir <outDir> <suffix> [q1 q2 ...]")
        spark.stop()
        sys.exit(2)
      }
      val outDir = Paths.get(args(2))
      Files.createDirectories(outDir)
      val suffix = args(3)
      args.drop(4).foreach { name =>
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), planOf(name))
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      }
    } else {
      val out = args.lift(1).getOrElse("/tmp/plans.txt")
      val sb = new StringBuilder
      Headline.foreach { name =>
        sb.append(s"==== $name ====\n")
        sb.append(planOf(name))
        sb.append("\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plans] wrote $out")
    }
    spark.stop()
  }
}
