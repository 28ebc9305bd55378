package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, GraftSession, SparkEntry}

/** Benchmark client: one JVM, one closed-loop client thread, a session
  * from [[GraftSession.builder]]. perfbench/run.py launches it once per
  * run with the generated inputs and reads `result.json` (plus
  * `trace.jsonl` on a traced run) from `--out`.
  *
  * Arguments (all `--key value`): kind (queries | ingest), queries
  * (comma-separated, for kind=queries), data, warm (a small dataset for
  * the warmup query, never the measured one), out, cores, seconds,
  * trace (0 | 1), seed.
  *
  * Timed region: whole passes over the workload's operations. A second
  * pass starts only if its projected end stays within `seconds`, so a
  * run measures at least one full pass. A traced run measures exactly
  * one pass, with the listeners of [[Trace]] registered.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = Paths.get(a("out")).toAbsolutePath
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    Files.createDirectories(out)

    // Set-up, cold: from process start (JVM start and class loading
    // included) through the session and the warmup query.
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.currentTimeMillis()
    warmup(spark, a("warm"))
    val t2 = System.currentTimeMillis()
    val setup = Map("start_s" -> (t1 - t0) / 1e3, "warmup_s" -> (t2 - t1) / 1e3,
      "total_s" -> (t2 - t0) / 1e3)

    val canary = scala.collection.mutable.LinkedHashMap[String, Any]()
    canary("cpu_start_s") = canaryCpu()
    canary("spark_start_s") = canarySpark(spark, cores)

    val workload: Workload = a("kind") match {
      case "queries" => new QueryWorkload(spark, a("data"), a("queries").split(",").toSeq, out)
      case "ingest" => new IngestWorkload(spark, a("data"), out, cores, a("seed").toLong)
      case other => throw new IllegalArgumentException(s"unknown kind $other")
    }
    workload.prepare()

    val passes = ArrayBuffer[Map[String, Any]]()
    val trace = if (traced) Some(new Trace(spark)) else None
    val r0 = System.nanoTime()
    def elapsed = (System.nanoTime() - r0) / 1e9
    var lastPass = 0.0
    trace.foreach(_.start())
    while (passes.isEmpty || (!traced && elapsed + lastPass <= seconds)) {
      val p0 = System.nanoTime()
      passes += workload.pass(passes.size)
      lastPass = (System.nanoTime() - p0) / 1e9
    }

    trace.foreach { t => t.drain(); t.stop() }
    canary("cpu_end_s") = canaryCpu()
    canary("spark_end_s") = canarySpark(spark, cores)
    trace.foreach(_.write(out.resolve("trace.jsonl")))

    val result = Map("setup" -> setup, "canary" -> canary, "passes" -> passes,
      "rss_hwm_kb" -> vmHwmKb())
    Files.writeString(out.resolve("result.json"), json.writeValueAsString(result))
    if (a("kind") == "queries") {
      val wanted = a("queries").split(",").toSet
      Files.writeString(out.resolve("oracle_sql.json"),
        json.writeValueAsString(SparkEntry.oracleSql.filter { case (q, _) => wanted(q) }))
    }
    spark.stop()
  }

  /** graft.Bench's flagship warmup shape (scan, aggregate, exchange), on
    * a tiny dataset so the measured files stay cold.
    */
  private def warmup(spark: SparkSession, warmDir: String): Unit = {
    SparkEntry.queries("q_agg_groupby")(spark, warmDir)
      .write.format("noop").mode("overwrite").save()
    cleanup(spark)
  }

  /** Between operations: drop the blocks the last one left persisted, as
    * graft.Bench does, so later operations are not squeezed by them.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Fixed JVM-only CPU loop: a host-speed reference independent of Spark. */
  private def canaryCpu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed tiny Spark job: scheduling plus a small aggregate. */
  private def canarySpark(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L, 1L, cores).selectExpr("sum(id * 7 % 13)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def vmHwmKb(): Long =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).get
    }.getOrElse(Runtime.getRuntime.totalMemory / 1024)

  /** Writes the result files: Scala maps, sequences and options as JSON. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .takeWhile(_ != '\n').take(300)

  /** Runs `body`, returning its error (if any) instead of throwing. */
  def attempt(body: => Unit): Option[String] =
    try { body; None } catch { case NonFatal(e) => Some(describe(e)) }
}

/** One workload: prepare() runs before the timed region; pass() runs the
  * operations once and returns the pass's record, with one record per
  * operation under "ops".
  */
trait Workload {
  def prepare(): Unit = ()
  def pass(index: Int): Map[String, Any]
}

/** SparkEntry queries, each written to parquet (the user-visible output
  * that run.py compares against the DuckDB oracle).
  */
final class QueryWorkload(spark: SparkSession, data: String, queries: Seq[String],
    out: Path) extends Workload {
  private val sc = spark.sparkContext

  def pass(index: Int): Map[String, Any] = Map("ops" -> queries.map { q =>
    val dir = out.resolve("outputs").resolve(q).resolve(s"p$index").toString
    sc.setJobDescription(s"perfbench:$q")
    val before = sc.getPersistentRDDs.keySet
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var barriers = 0
    val err = Main.attempt {
      val df = SparkEntry.queries(q)(spark, data)
      t1 = System.nanoTime()
      barriers = (sc.getPersistentRDDs.keySet -- before).size
      df.write.mode("overwrite").parquet(dir)
    }
    val t2 = System.nanoTime()
    val persisted = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Main.cleanup(spark)
    Map("name" -> q, "kind" -> "query", "start_ms" -> startMs,
      "build_s" -> (t1 - t0) / 1e9, "dur_s" -> (t2 - t0) / 1e9,
      "barriers" -> barriers, "persisted_bytes" -> persisted,
      "error" -> err, "output" -> (if (err.isEmpty) Some(dir) else None))
  })
}
