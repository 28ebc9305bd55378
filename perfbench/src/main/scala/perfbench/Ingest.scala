package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.{Layout, Tables}
import graft.streaming.DedupStream

/** Streaming ingest beside Layout maintenance, checked against an
  * in-memory reference model of the table.
  *
  * Prepare (untimed): 80% of the documents form the corpus and its
  * prebuilt [[DedupStream.corpusIndex]]; the other 20% arrive, in a
  * seeded order, as 24 micro-batches (enough triggers per pass for a
  * tail percentile).
  *
  * Each pass starts from an empty table directory and runs, timed per
  * operation: create the bucketed table from the corpus; then per trigger
  * (addData → processAllAvailable on the pair stream and the landing
  * stream), and after triggers 5, 10, 15 and 20 one step each of a fixed
  * maintenance cycle —
  *   1. merge (upserts + tombstones), read;
  *   2. re-deliver the batch with its batch id, forget keys, read, pin;
  *   3. merge, read the pinned generation, read;
  *   4. read the pinned generation, compact, vacuum, read.
  *
  * Checks: every read equals the model (so the re-delivered batch landed
  * once), the pinned generation re-reads identically, erased keys are
  * absent from every retained generation, and the stream's near-dup pairs
  * equal the batch probe over the same documents. A failed check is
  * recorded as the error of the operation it belongs to.
  */
final class IngestWorkload(spark: SparkSession, data: String, out: Path,
    cores: Int, seed: Long) extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val key = "doc_id"
  private val buckets = math.max(2, cores)
  private val triggers = 24

  private var corpus: Seq[(Long, String)] = Nil
  private var arrivals: Seq[Seq[(Long, String)]] = Nil
  private var idxBands: DataFrame = _
  private var corpusSh: DataFrame = _
  private var indexBuildS = 0.0
  private var expectedPairs: Set[(Long, Long, Double)] = Set.empty

  override def prepare(): Unit = {
    val docs = Tables.documents(spark, data).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (arriving, base) = docs.partition(_._1 % 5 == 0)
    corpus = base
    val order = new scala.util.Random(seed).shuffle(arriving)
    arrivals = order.grouped((order.size + triggers - 1) / triggers).toSeq
    val t0 = System.nanoTime()
    val (bands, sh) = DedupStream.corpusIndex(corpus.toDF("doc_id", "text"))
    idxBands = bands.localCheckpoint()
    corpusSh = sh.localCheckpoint()
    indexBuildS = (System.nanoTime() - t0) / 1e9
    expectedPairs = DedupStream.incremental(arriving.toDF("doc_id", "text"),
      idxBands, corpusSh).as[(Long, Long, Double)].collect().toSet
  }

  private def tableDir(table: String): Path = out.resolve("warehouse").resolve(table)

  /** Data files under the table directory, root-relative → bytes. */
  private def listing(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def pass(index: Int): Map[String, Any] = {
    val table = s"ingest_p$index"
    val dir = tableDir(table)
    val rnd = new scala.util.Random(seed)
    val model = mutable.TreeMap[Long, String]() ++ corpus
    val erased = mutable.Set[Long]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    var pin: Option[(Long, Seq[(Long, String)])] = None

    def op(name: String, kind: String, write: Boolean)(body: => Unit)
        (check: => Option[String]): Unit = {
      val before = if (write) listing(dir) else Map.empty[String, Long]
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = Main.attempt(body)
      val dur = (System.nanoTime() - t0) / 1e9
      val written = if (write) listing(dir).filter { case (f, n) =>
        !f.startsWith("_pre_") && !before.get(f).contains(n)
      } else Map.empty[String, Long]
      val bad = err.orElse(scala.util.Try(check).fold(e => Some(Main.describe(e)), identity))
      val persisted = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      ops.synchronized {
        ops += Map("name" -> name, "kind" -> kind, "start_ms" -> startMs,
          "dur_s" -> dur, "error" -> bad, "files_written" -> written.size,
          "bytes_written" -> written.values.sum, "persisted_bytes" -> persisted)
      }
    }

    def rowsOf(df: DataFrame): Seq[(Long, String)] =
      df.select(col(key), col("text")).as[(Long, String)].collect().toSeq.sortBy(_._1)
    def same(got: Seq[(Long, String)], want: Seq[(Long, String)]): Option[String] =
      if (got == want) None
      else Some(s"mismatch: ${got.size} rows read, ${want.size} expected, " +
        s"${got.map(_._1).distinct.size} distinct keys")

    def read(): Unit = {
      var got: Seq[(Long, String)] = Nil
      op("read", "read", write = false) {
        got = rowsOf(Layout.readTable(spark, table))
      }(same(got, model.toSeq))
    }
    def readPinned(): Unit = pin.foreach { case (gen, snapshot) =>
      var got: Seq[(Long, String)] = Nil
      op("read_at", "read_at", write = false) {
        got = rowsOf(Layout.readTableAt(spark, table, gen))
      }(same(got, snapshot))
    }
    // a generation whose files erasure or vacuum reclaimed must fail
    // loudly ("no longer fully retained"); every readable one must lack
    // the erased keys
    def erasedEverywhere(): Option[String] =
      Layout.tableGenerations(spark, table).flatMap { g =>
        scala.util.Try(rowsOf(Layout.readTableAt(spark, table, g))) match {
          case scala.util.Success(rows) =>
            val leaked = rows.count(r => erased(r._1))
            if (leaked > 0) Some(s"generation $g still holds $leaked erased keys") else None
          case scala.util.Failure(e) if String.valueOf(e.getMessage).contains("retained") => None
          case scala.util.Failure(e) => Some(s"generation $g: ${Main.describe(e)}")
        }
      }.headOption
    def pick(n: Int): Seq[Long] = rnd.shuffle(model.keys.toSeq).take(n).sorted
    def merge(step: Int): Unit = {
      val keys = pick(60)
      val (upserts, tombstones) = keys.splitAt(40)
      val delta = (upserts.map(k => (k, model(k) + s" rev$step", false)) ++
        tombstones.map(k => (k, "", true))).toDF(key, "text", "del")
      op("merge", "merge", write = true) {
        Layout.mergeBucketed(spark, table, key, buckets, delta, deleteCol = Some("del"))
      }(None)
      upserts.foreach(k => model(k) = model(k) + s" rev$step")
      model --= tombstones
    }

    // landing stream: every micro-batch through Layout.ingestSink, timed
    // as a commit of its own
    val sink = Layout.ingestSink(table, key, buckets)
    var lastBatchId = -1L
    val land: (DataFrame, Long) => Unit = (df, id) => {
      op("append", "append", write = true)(sink(df, id))(None)
      lastBatchId = id
    }
    val chk = out.resolve("checkpoints").resolve(table)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF(key, "text")
    var queries: Seq[StreamingQuery] = Nil
    var pairs: Seq[(Long, Long, Double)] = Nil
    try {
      op("create", "create", write = true) {
        Layout.writeBucketed(corpus.toDF(key, "text"), table, key, buckets)
      }(None)
      queries = Seq(
        DedupStream.incremental(docs, idxBands, corpusSh).writeStream
          .format("memory").queryName(s"pairs_p$index")
          .option("checkpointLocation", chk.resolve("pairs").toString).start(),
        docs.writeStream.foreachBatch(land)
          .option("checkpointLocation", chk.resolve("land").toString).start())

      arrivals.zipWithIndex.foreach { case (batch, t) =>
        op("trigger", "trigger", write = false) {
          input.addData(batch)
          queries.foreach(_.processAllAvailable())
        }(None)
        model ++= batch
        (if (t % 5 == 4) t / 5 else -1) match {
          case 0 =>
            merge(t)
            read()
          case 1 =>
            // what a restart from the checkpoint does: the last batch
            // again, under its original id
            op("redeliver", "append", write = true) {
              sink(batch.toDF(key, "text"), lastBatchId)
            }(None)
            val keys = pick(30)
            op("forget", "forget", write = true) {
              Layout.forgetKeys(spark, table, key, keys.toDF(key))
            } {
              model --= keys
              erased ++= keys
              erasedEverywhere()
            }
            read()
            pin = Some((Layout.tableGenerations(spark, table).max, model.toSeq))
          case 2 =>
            merge(t)
            readPinned()
            read()
          case 3 =>
            readPinned()
            op("compact", "compact", write = true) {
              Layout.compactBucketed(spark, table, key, buckets)
            }(None)
            op("vacuum", "vacuum", write = true) {
              Layout.vacuumTable(spark, table, 0L)
            }(erasedEverywhere())
            read()
          case _ => ()
        }
      }
      pairs = spark.table(s"pairs_p$index").as[(Long, Long, Double)].collect().toSeq
    } finally queries.foreach(_.stop())

    // the stream emits each near-dup pair once, and exactly the batch
    // probe's pairs: otherwise every trigger is wrong
    val pairErr =
      if (pairs.size != pairs.distinct.size) Some(s"${pairs.size - pairs.distinct.size} duplicate pairs")
      else if (pairs.toSet != expectedPairs)
        Some(s"stream pairs ${pairs.size} != batch probe ${expectedPairs.size}")
      else None
    val progress = queries.flatMap(_.recentProgress).map { p =>
      Map("duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
    val live = scala.util.Try(Layout.readTable(spark, table).inputFiles.toSeq).getOrElse(Nil)
    val liveBytes = live.map(f => Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    val diskBytes = listing(dir).values.sum
    Map("index_build_s" -> indexBuildS, "space_amp" -> diskBytes.toDouble / liveBytes,
      "disk_bytes" -> diskBytes, "live_bytes" -> liveBytes, "files_live" -> live.size,
      "arriving_docs" -> arrivals.map(_.size).sum, "pairs" -> pairs.size,
      "stream_progress" -> progress,
      "ops" -> ops.toSeq.map { o =>
        if (o("kind") == "trigger" && pairErr.isDefined && o("error") == None)
          o + ("error" -> pairErr) else o
      })
  }
}
