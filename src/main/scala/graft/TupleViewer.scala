package graft

/** CLI to eyeball any tuple file — schema plus the first N rows — matching
  * the reference's TupleViewer utility
  * (reference: examples/src/main/java/com/datasalt/pangool/examples/TupleViewer.java,
  * which dumps a Pangool TupleFile as text). Parquet is this library's
  * tuple-file format, so the viewer is the parquet reader plus `show`.
  *
  * `sbt "runMain graft.TupleViewer <path> [rows=20]"` — path may be a file,
  * a directory of part files, or a glob.
  */
object TupleViewer {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TupleViewer <parquet path> [rows]")
    val rows = if (args.length > 1) args(1).toInt else 20
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.read.parquet(args(0))
    df.printSchema()
    df.show(rows, truncate = 40)
    println(s"(${df.count()} rows total)")
    spark.stop()
  }
}
