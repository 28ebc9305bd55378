package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.EventsStream
import graft.streaming.EventsStream.Event

class StreamingSpec extends GraftSuite {

  private def ts(minutes: Long): Timestamp = new Timestamp(1700000000000L + minutes * 60000)

  test("streaming hourly window matches batch aggregation semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(70), 2, "view", 3.0))
      q.processAllAvailable()
      val out = spark.table("hourly").select("event_type", "n_events").as[(String, Long)]
        .collect().toMap
      assert(out == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("late-data monitor counts exactly the watermark-dropped rows (both forms)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new EventsStream.LateDropListener
    spark.streams.addListener(listener)
    val input = MemoryStream[Event]
    // update mode: late rows are DROPPED (complete mode would keep
    // aggregating them and the monitor would rightly read 0)
    val q = EventsStream.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("latemon").outputMode("update").start()
    try {
      // batch 1 establishes the watermark: max event time 180min − 2h = 60min
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(2, ts(180), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: two rows whose 1h windows END at or before the 60min
      // watermark (DROPPED), one safely inside (kept)
      input.addData(
        Event(3, ts(5), 2, "view", 1.0),   // window [0,60) ends at wm → dropped
        Event(4, ts(-30), 2, "view", 1.0), // window [-60,0) long closed → dropped
        Event(5, ts(170), 2, "view", 1.0)) // window [120,180) open → kept
      q.processAllAvailable()
      assert(EventsStream.lateDrops(q) == 2L, q.recentProgress.map(_.json).mkString("\n"))
      // the listener form agrees (it saw the same triggers)
      assert(listener.dropsFor(q.id) == 2L)
      // session hygiene (r17 ADVICE): eviction is explicit, not automatic
      // — the post-mortem read above is the point of the accumulation
      listener.evict(q.id)
      assert(listener.dropsFor(q.id) == 0L)
      listener.clear()
      // and the kept row actually landed while the dropped ones did not
      val out = spark.table("latemon").select("event_type", "n_events")
        .as[(String, Long)].collect()
      assert(out.toSet == Set("click" -> 1L, "view" -> 1L), out.mkString(","))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("idempotent sink: re-delivered batches are no-ops; crashed staging stays invisible") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    val dir = java.nio.file.Files.createTempDirectory("idem-sink").toString + "/t"
    // streaming path: three micro-batches land through foreachBatch
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "v")
      .writeStream.foreachBatch(IdempotentSink.sink(dir)).start()
    try {
      input.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      input.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    val landed = IdempotentSink.read(spark, dir)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(landed == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // re-delivery of a committed id (the at-least-once restart case) is a
    // no-op even with DIFFERENT payload — first commit wins
    val redelivered = IdempotentSink.writeBatch(
      Seq((9L, "dup")).toDF("id", "v"), dir, batchId = 0L)
    assert(!redelivered, "a committed batch id must not commit again")
    assert(IdempotentSink.read(spark, dir)
      .select("id", "v").as[(Long, String)].collect().toSet == landed)
    // a crash BEFORE publish leaves only a hidden staging dir — invisible
    // to readers, SWEPT on the id's next delivery, which commits cleanly
    val root = new java.io.File(dir)
    val ghost = new java.io.File(new java.io.File(root, ".staging"), ".s-7-deadbeef")
    Seq((7L, "ghost")).toDF("id", "v").write.parquet(ghost.toString)
    assert(IdempotentSink.read(spark, dir)
      .select("id", "v").as[(Long, String)].collect().toSet == landed)
    assert(IdempotentSink.writeBatch(Seq((7L, "real")).toDF("id", "v"), dir, 7L))
    assert(IdempotentSink.read(spark, dir).where(col("batch") === 7L)
      .select("v").as[String].collect().toSeq == Seq("real"))
    assert(!ghost.exists(), "crashed staging is reclaimed on the id's next delivery")
    // the audit column really is the batch id partition (normalized long)
    assert(IdempotentSink.read(spark, dir).select("batch").distinct()
      .as[Long].collect().toSet == Set(0L, 1L, 7L))
    // a reader starting before the first commit: empty table with the
    // declared schema (plus the batch column), not an inference error
    val virgin = java.nio.file.Files.createTempDirectory("idem-virgin").toString + "/t"
    val empty = IdempotentSink.read(spark, virgin,
      Seq.empty[(Long, String)].toDF("id", "v").schema)
    assert(empty.columns.toSeq == Seq("id", "v", "batch") && empty.count() == 0)
    intercept[IllegalArgumentException] { IdempotentSink.read(spark, virgin) }
  }

  test("idempotent sink: a losing publish NESTS (Hadoop rename semantics) and is detected") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    val dir = java.nio.file.Files.createTempDirectory("idem-race").toString + "/t"
    // the winner committed batch 5 first
    assert(IdempotentSink.writeBatch(Seq((1L, "win")).toDF("id", "v"), dir, 5L))
    val before = IdempotentSink.read(spark, dir).where(col("batch") === 5L)
      .select("id", "v").as[(Long, String)].collect().toSet
    // the loser's publish, driven at the fs level (the exists fast path in
    // writeBatch makes this branch unreachable sequentially — which is
    // exactly why it gets its own pin): rename into the existing committed
    // dir returns TRUE but nests; publish must detect it, sweep the nested
    // copy, and report the loss
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/.staging/.s-5-loser")
    Seq((9L, "lose")).toDF("id", "v").write.parquet(staging.toString)
    val committed = new org.apache.hadoop.fs.Path(root, "batch=5")
    assert(!IdempotentSink.publish(fs, staging, committed),
      "a publish into an existing commit must report the loss, not success")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(committed, ".s-5-loser")),
      "the nested copy is swept")
    // the marker decides win/loss: the WINNER's marker sits directly under
    // committed; the loser's never does (even if its nested copy was
    // already reclaimed by the winner — the double-true race)
    val markers = fs.listStatus(committed)
      .map(_.getPath.getName).filter(_.startsWith(".committer-5-"))
    assert(markers.length == 1 && !markers.head.contains("loser"),
      s"exactly the winner's marker survives: ${markers.toSeq}")
    assert(IdempotentSink.read(spark, dir).where(col("batch") === 5L)
      .select("id", "v").as[(Long, String)].collect().toSet == before,
      "the committed batch is untouched by the losing publish")
    // a loser that CRASHED between nesting and sweeping (plant the nested
    // hidden copy by hand) is reclaimed by the id's next delivery
    val orphan = new org.apache.hadoop.fs.Path(committed, ".s-5-crashed")
    Seq((8L, "ghost")).toDF("id", "v").write.parquet(orphan.toString)
    assert(!IdempotentSink.writeBatch(Seq((1L, "re")).toDF("id", "v"), dir, 5L))
    assert(!fs.exists(orphan), "re-delivery reclaims the crashed loser's nested copy")
    // the fast path's STAGING sweep is age-gated (r17 ADVICE): a fresh
    // same-id staging may be a live zombie re-delivery mid-write, so the
    // already-committed no-op leaves it alone until it ages past the grace
    val zombie = new org.apache.hadoop.fs.Path(s"$dir/.staging/.s-5-zombie")
    Seq((8L, "mid-write")).toDF("id", "v").write.parquet(zombie.toString)
    assert(!IdempotentSink.writeBatch(Seq((1L, "re")).toDF("id", "v"), dir, 5L))
    assert(fs.exists(zombie), "a fresh staging survives the age-gated fast-path sweep")
    spark.conf.set("spark.graft.sink.reclaimGraceMs", "0")
    try {
      assert(!IdempotentSink.writeBatch(Seq((1L, "re")).toDF("id", "v"), dir, 5L))
      assert(!fs.exists(zombie), "an aged-out staging is reclaimed")
    } finally spark.conf.unset("spark.graft.sink.reclaimGraceMs")
  }

  test("file-source streaming over an events landing dir matches batch counts") {
    import spark.implicits._
    // stage the events parquet as a landing directory
    val dir = java.nio.file.Files.createTempDirectory("events-stream").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    raw.write.mode("overwrite").parquet(dir)
    val stream = EventsStream.fromDirectory(spark, dir, raw.schema)
      .groupBy("event_type").count()
    val q = stream.writeStream.format("memory").queryName("filestream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filestream").as[(String, Long)].collect().toMap
      val batch = raw.groupBy("event_type").count().as[(String, Long)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 2.0))
      q.processAllAvailable()
      // re-delivery of id 1 in a later micro-batch, plus a fresh id
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(3, ts(2), 2, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"each id exactly once, got $ids")
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with the preceding hour's clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.purchaseClickJoin(input.toDF())
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 0),     // within the hour → joins
        Event(2, ts(30), 7, "purchase", 0),
        Event(3, ts(31), 8, "click", 0),    // different user → no join
        Event(4, ts(200), 7, "click", 0),   // after the purchase → no join
        Event(5, ts(300), 9, "purchase", 0) // no clicks → no row
      )
      q.processAllAvailable()
      val rows = spark.table("ssjoin")
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((2L, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("quality cascade runs unchanged on a streaming ingest (gate rides the scan)") {
    import spark.implicits._
    // batch result on the corpus slice = the expected verdicts
    val expected = graft.operators.Quality.qualityFilter(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(10)).toMap
    // same docs arriving as a file stream through the SAME transform
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val landing = java.nio.file.Files.createTempDirectory("docs-stream").toString
    docs.write.mode("overwrite").parquet(landing)
    val q = graft.operators.Quality.qualityFilterOn(
        EventsStream.fromDirectory(spark, landing, docs.schema))
      .select("doc_id", "keep")
      .writeStream.format("memory").queryName("qgate").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("qgate").as[(Long, Boolean)].collect().toMap
      assert(got == expected, "streaming verdicts must equal the batch cascade")
    } finally q.stop()
  }

  test("streaming funnel advances stages incrementally with strict same-ms rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.funnel(input.toDS())
      .writeStream.format("memory").queryName("funnelu").outputMode("update").start()
    try {
      // same-ms click must not advance past the view (strict >)
      input.addData(Event(1, ts(0), 7, "view", 0), Event(2, ts(0), 7, "click", 0))
      q.processAllAvailable()
      val b1 = spark.table("funnelu").as[EventsStream.FunnelUpdate].collect()
        .filter(_.user_id == 7L).last
      assert(b1.depth == 1L && b1.click_ms == -1L, s"same-ms click counted: $b1")
      // later click + purchase complete the funnel across triggers
      input.addData(Event(3, ts(5), 7, "click", 0), Event(4, ts(10), 7, "purchase", 0))
      q.processAllAvailable()
      val b2 = spark.table("funnelu").as[EventsStream.FunnelUpdate].collect()
        .filter(_.user_id == 7L).last
      assert(b2.depth == 3L && b2.view_ms == ts(0).getTime &&
        b2.click_ms == ts(5).getTime && b2.purchase_ms == ts(10).getTime, s"$b2")
      // click-before-view user never advances
      input.addData(Event(5, ts(0), 8, "click", 0), Event(6, ts(5), 8, "view", 0))
      q.processAllAvailable()
      val u8 = spark.table("funnelu").as[EventsStream.FunnelUpdate].collect()
        .filter(_.user_id == 8L).last
      assert(u8.depth == 1L && u8.click_ms == -1L, s"$u8")
    } finally q.stop()
  }

  test("streaming funnelStages: 4-stage cascade matches the batch gate rules") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.funnelStages(input.toDS(),
        Seq("view", "click", "purchase", "signup"))
      .writeStream.format("memory").queryName("funnel4").outputMode("update").start()
    try {
      // purchase precedes click → stalls at click even though signup follows
      input.addData(
        Event(1, ts(0), 9, "view", 0), Event(2, ts(5), 9, "purchase", 0),
        Event(3, ts(10), 9, "click", 0), Event(4, ts(15), 9, "signup", 0))
      q.processAllAvailable()
      val u9 = spark.table("funnel4").as[EventsStream.FunnelStagesUpdate]
        .collect().filter(_.user_id == 9L).last
      assert(u9.depth == 2L && u9.stage_ms == Seq(ts(0).getTime, ts(10).getTime, -1L, -1L), s"$u9")
      // a later purchase (after the accepted click) advances; then signup
      input.addData(Event(5, ts(20), 9, "purchase", 0), Event(6, ts(25), 9, "signup", 0))
      q.processAllAvailable()
      val u9b = spark.table("funnel4").as[EventsStream.FunnelStagesUpdate]
        .collect().filter(_.user_id == 9L).last
      assert(u9b.depth == 4L && u9b.stage_ms ==
        Seq(ts(0).getTime, ts(10).getTime, ts(20).getTime, ts(25).getTime), s"$u9b")
    } finally q.stop()
  }

  test("streaming funnel state survives a checkpointed restart") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val landing = java.nio.file.Files.createTempDirectory("funnel-landing").toString
    val cp = java.nio.file.Files.createTempDirectory("funnel-cp").toString
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    def runOnce(): Map[Long, (Long, Long)] = {
      // foreachBatch (not the memory sink): the only update-mode sink here
      // that supports restarting from a checkpoint
      val got = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      val q = EventsStream.funnel(
          EventsStream.fromDirectory(spark, landing, schema).as[Event])
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[EventsStream.FunnelUpdate], _: Long) =>
          df.collect().foreach(u => got(u.user_id) = (u.view_ms, u.depth))
        }
        .start()
      q.awaitTermination()
      got.toMap
    }
    // run 1: only the view lands
    Seq(Event(1, ts(0), 7, "view", 0)).toDS()
      .write.mode("append").parquet(landing)
    val r1 = runOnce()
    assert(r1(7L) == ((ts(0).getTime, 1L)), s"run 1: $r1")
    // run 2 is a NEW query from the same checkpoint: it reads ONLY the new
    // files, so reaching depth 3 requires the view_ms restored from state
    Seq(Event(2, ts(5), 7, "click", 0), Event(3, ts(10), 7, "purchase", 0)).toDS()
      .write.mode("append").parquet(landing)
    val r2 = runOnce()
    assert(r2(7L) == ((ts(0).getTime, 3L)),
      s"state must carry the run-1 view across the restart: $r2")
  }

  test("streaming sessionization closes sessions on gap and emits on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // session 1: two events 5 min apart; then 60-min silence breaks it
      input.addData(Event(1, ts(0), 7, "click", 0), Event(2, ts(5), 7, "click", 0))
      q.processAllAvailable()
      input.addData(Event(3, ts(65), 7, "click", 0))
      q.processAllAvailable()
      // advance watermark well past everything so the first session flushes
      input.addData(Event(4, ts(600), 8, "view", 0))
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .where(col("user_id") === 7).select("n_events").as[Long].collect().sorted.toSeq
      assert(sessions.contains(2L), s"expected the 2-event session closed, got $sessions")
    } finally q.stop()
  }

  /** The incremental-dedup fixture: the static corpus index of the
    * non-batch docs (doc_id % 5 != 4, the batch operator's split), the
    * arriving docs in id order, and the query over a fresh MemoryStream.
    */
  private def incDedup(name: String)
      : (MemoryStream[(Long, String)], Seq[(Long, String)], StreamingQuery) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (idxBands, corpusSh) = graft.streaming.DedupStream.corpusIndex(
      docs.where(pmod(col("doc_id"), lit(5)) =!= lit(4)))
    val newDocs = docs.where(pmod(col("doc_id"), lit(5)) === lit(4))
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.DedupStream.incremental(
      input.toDF().toDF("doc_id", "text"), idxBands, corpusSh)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    (input, newDocs, q)
  }

  private def pairsOf(table: String): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    spark.table(table).select("new_id", "corpus_id", "jac")
      .as[(Long, Long, Double)].collect().toSeq.sorted
  }

  test("stream-static incremental dedup matches the batch operator across micro-batches") {
    import spark.implicits._
    // multiset, not set: a re-delivered doc's pairs must not be emitted twice
    val batch = operators.Dedup.minhashIncremental(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val (input, newDocs, q) = incDedup("incdedup")
    try {
      assert(newDocs.length >= 2, "need at least two arriving docs to split across batches")
      val paired = batch.map(_._1).toSet
      assert(paired.nonEmpty, "the fixture must produce pairs for re-delivery to bite")
      // deliver the arriving batch across micro-batches with at-least-once
      // re-delivery of every doc that HAS pairs: the first half's again in
      // the second micro-batch, then all of them once more in a third
      val (first, rest) = newDocs.splitAt(newDocs.length / 2)
      input.addData(first)
      q.processAllAvailable()
      input.addData(rest ++ first.filter(d => paired(d._1)))
      q.processAllAvailable()
      input.addData(newDocs.filter(d => paired(d._1)))
      q.processAllAvailable()
      val streamed = pairsOf("incdedup")
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("stream-static incremental dedup keeps one state operator holding only the emitted pairs") {
    val (input, newDocs, q) = incDedup("incdedup_state")
    try {
      newDocs.grouped(math.max(1, newDocs.length / 4)).foreach { c =>
        input.addData(c)
        q.processAllAvailable()
      }
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1, s"only the pair dedup may keep state: ${ops.map(_.json).toSeq}")
      val emitted = pairsOf("incdedup_state")
      assert(emitted.nonEmpty, "the fixture must emit pairs")
      assert(ops.head.numRowsTotal == emitted.length,
        s"state rows ${ops.head.numRowsTotal} vs ${emitted.length} emitted pairs")
    } finally q.stop()
  }

  test("stream-static incremental dedup: empty and sub-shingle micro-batches emit nothing") {
    val (input, _, q) = incDedup("incdedup_edge")
    try {
      input.addData(Seq.empty[(Long, String)])
      q.processAllAvailable()
      // fewer than 3 tokens → no 3-word shingle → filtered before banding
      input.addData(Seq((90000001L, ""), (90000002L, "one"), (90000003L, "two words")))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      assert(q.lastProgress.batchId >= 1, s"both micro-batches must run: ${q.lastProgress.json}")
      assert(pairsOf("incdedup_edge").isEmpty)
    } finally q.stop()
  }

  test("streaming session_window merges through an exactly-gap delta, splits past it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.sessionWindows(input.toDF())
      .writeStream.format("memory").queryName("swin").outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 0), Event(2, ts(10), 7, "view", 0),
        // exactly-gap delta (30 min after ts(10)) → SAME session (the
        // boundary is inclusive — matching the batch `> gap` break)
        Event(3, ts(40), 7, "click", 0),
        // 35 min after ts(40) → new session
        Event(4, ts(75), 7, "view", 0),
        Event(5, ts(0), 8, "view", 0))
      q.processAllAvailable()
      val rows = spark.table("swin")
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      val gapMs = 30L * 60000
      val expected = Set(
        (7L, ts(0), new Timestamp(ts(40).getTime + gapMs), 3L),
        (7L, ts(75), new Timestamp(ts(75).getTime + gapMs), 1L),
        (8L, ts(0), new Timestamp(ts(0).getTime + gapMs), 1L))
      assert(rows == expected, s"got $rows")
    } finally q.stop()
  }

  test("streaming sliding window assigns each event to its 4 covering windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("slide").outputMode("complete").start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 0), Event(2, ts(10), 7, "click", 0))
      q.processAllAvailable()
      val rows = spark.table("slide")
        .select(col("win_start"), col("n_events")).as[(Timestamp, Long)]
        .collect().toMap
      // ts(0) and ts(10) sit 10 min apart: 3 windows cover both, one
      // covers only ts(0), one only ts(10) — 5 windows, counts 1/2/2/2/1
      assert(rows.size == 5, s"got $rows")
      assert(rows.values.sum == 8L && rows.values.count(_ == 2L) == 3)
      // every start is 15-min aligned (epoch-aligned slide)
      assert(rows.keys.forall(_.getTime % (15 * 60000) == 0))
    } finally q.stop()
  }

  test("batch sliding window equals the explicit k-unnest fan-out") {
    import spark.implicits._
    val got = graft.operators.Events.slidingWindow(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSet
    // reference: unnest k∈0..3 in millis space (the oracle construction)
    val ref = graft.io.Tables.events(spark, sf)
      .select(unix_millis(col("ts")).as("ms"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("k", explode(sequence(lit(0), lit(3))))
      .groupBy(((col("ms") / 900000L).cast("long") * 900000L
          - col("k") * 900000L).as("win_ms"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == ref, s"diverges: ${got.diff(ref).take(3)} vs ${ref.diff(got).take(3)}")
    assert(got.size > 4, "non-vacuous")
    // scale pin: the x4 window fan-out (Expand) sits BELOW the exchange,
    // inside the map-side partial agg — the shuffle carries partials,
    // never events x4
    val plan = graft.operators.Events.slidingWindow(spark, sf)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("Expand"), plan)
    assert(plan.indexOf("Exchange") < plan.indexOf("Expand"),
      "Expand must be below the exchange (map-side)")
  }

  test("batch session_window equals Events.sessionize modulo the end+gap bound") {
    import spark.implicits._
    // the same declarative aggregation runs as a plain batch query
    val got = EventsStream.sessionWindows(graft.io.Tables.events(spark, sf))
      .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
        (unix_millis(col("session_end")) - 30L * 60000).as("end_ms"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val ref = graft.operators.Events.sessionize(spark, sf)
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == ref,
      s"diverges: ${got.diff(ref).take(3)} vs ${ref.diff(got).take(3)}")
    assert(got.size > 1, "non-vacuous: multiple sessions exist at this SF")
  }

  test("streaming transitions emit consecutive pairs across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.transitions(input.toDS())
      .writeStream.format("memory").queryName("trans").outputMode("append").start()
    try {
      // trigger 1: user 7 has two events (one pair), user 8 one (no pair);
      // out-of-order arrival within the trigger folds sorted
      input.addData(Event(2, ts(5), 7, "click", 0), Event(1, ts(0), 7, "view", 0),
        Event(3, ts(0), 8, "view", 0))
      q.processAllAvailable()
      // trigger 2: both users continue — the pair bridges the trigger
      // boundary through the retained last-event state
      input.addData(Event(4, ts(9), 7, "purchase", 0), Event(5, ts(3), 8, "click", 0))
      q.processAllAvailable()
      val got = spark.table("trans").as[EventsStream.Transition].collect()
        .map(t => (t.user_id, t.from_type, t.to_type)).sorted.toSeq
      assert(got == Seq((7L, "click", "purchase"), (7L, "view", "click"),
        (8L, "view", "click")), got.toString)
    } finally q.stop()
  }

  test("streaming transitions drop late cross-trigger events instead of mis-pairing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.transitions(input.toDS())
      .writeStream.format("memory").queryName("trans_late").outputMode("append").start()
    try {
      input.addData(Event(1, ts(0), 7, "view", 0), Event(2, ts(5), 7, "click", 0))
      q.processAllAvailable()
      // a late arrival OLDER than the stored last event (ts(3) < ts(5)):
      // batch would splice it between view and click; the stream can no
      // longer do that, so it must be dropped — no (click, scroll) pair,
      // and the retained state must still be the ts(5) click
      input.addData(Event(3, ts(3), 7, "scroll", 0))
      q.processAllAvailable()
      input.addData(Event(4, ts(9), 7, "purchase", 0))
      q.processAllAvailable()
      val got = spark.table("trans_late").as[EventsStream.Transition].collect()
        .map(t => (t.user_id, t.from_type, t.to_type)).sorted.toSeq
      assert(got == Seq((7L, "click", "purchase"), (7L, "view", "click")), got.toString)
    } finally q.stop()
  }

  test("drift monitor: per-batch KS equals the exact reference; a shift maxes it") {
    import spark.implicits._
    import graft.streaming.DriftStream
    implicit val sqlCtx = spark.sqlContext
    // reference: two types, cents 1..100 uniform (one event per cent value)
    val ref = (1 to 100).flatMap(c => Seq(("click", c / 100.0), ("view", c / 100.0)))
      .map { case (t, v) => Event(0, ts(0), 0, t, v) }
      .toDF().select(col("ts"), col("event_type"), col("value"))
    val refHist = DriftStream.referenceHistogram(ref).localCheckpoint()
    val verdicts = scala.collection.concurrent.TrieMap[Long, Map[String, (Long, Long, Long)]]()
    val input = MemoryStream[Event]
    val q = DriftStream.monitor(input.toDF(), refHist) { (id, ks) =>
      verdicts(id) = ks.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }.start()
    try {
      // batch 0: drawn from the reference support — low drift
      input.addData((1 to 50).map(c => Event(c, ts(c), 1, "click", (2 * c) / 100.0)): _*)
      q.processAllAvailable()
      // batch 1: shifted far right of the reference — total drift
      input.addData((1 to 50).map(c => Event(c, ts(c), 1, "click", 500.0 + c)): _*)
      q.processAllAvailable()
      val b0 = verdicts(0L); val b1 = verdicts(1L)
      // exact-KS reference for batch 0's click sample vs uniform 1..100:
      // cdf gap maxes where the even-cents sample leads the uniform cdf
      val refCounts = (1L to 100L).map(c => c -> 1L).toMap
      val smp = (1 to 50).map(c => 2L * c).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val dom = (refCounts.keySet ++ smp.keySet).toSeq.sorted
      var c1 = 0L; var c2 = 0L; var d = BigInt(0)
      dom.foreach { v =>
        c1 += refCounts.getOrElse(v, 0L); c2 += smp.getOrElse(v, 0L)
        d = d.max((BigInt(c1) * 50 - BigInt(c2) * 100).abs)
      }
      assert(b0("click") == ((100L, 50L, (BigInt(1000000) * d / (100 * 50)).toLong)), b0.toString)
      // view saw no batch rows -> total drift by the empty-half rule
      assert(b0("view") == ((100L, 0L, 1000000L)), b0.toString)
      // the shifted batch's support is disjoint from the reference -> max KS
      assert(b1("click")._3 == 1000000L, b1.toString)
      // batchKs is a plain batch function — the offline run of the same
      // code path reproduces the streaming verdict exactly
      val offline = DriftStream.batchKs(refHist,
          (1 to 50).map(c => Event(c, ts(c), 1, "click", (2 * c) / 100.0)).toDF())
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(offline == b0, s"offline $offline vs streamed $b0")
    } finally q.stop()
  }

  /** Independent brute-force PSI in plain Scala — the formula from
    * [[graft.operators.Analytics.driftPsi]]'s scaladoc re-derived outside
    * Spark: baseline-quantile bins (rank strictly-below over the c1 side),
    * add-one smoothing, per-bin 1e-6 rounding summed exactly. Pins the
    * shared core the way the DuckDB oracle pins the batch query.
    */
  private def psiRef(ref: Map[Long, Long], smp: Map[Long, Long], bins: Int): Long = {
    val n1 = ref.values.sum; val n2 = smp.values.sum
    if (n1 == 0L || n2 == 0L) return 1000000000L
    val b1 = Array.fill(bins)(0L); val b2 = Array.fill(bins)(0L)
    var below = 0L
    (ref.keySet ++ smp.keySet).toSeq.sorted.foreach { v =>
      val bin = math.min(bins - 1L, bins * below / n1).toInt
      b1(bin) += ref.getOrElse(v, 0L); b2(bin) += smp.getOrElse(v, 0L)
      below += ref.getOrElse(v, 0L)
    }
    (0 until bins).map { i =>
      val p = (b1(i) + 1).toDouble / (n1 + bins)
      val q = (b2(i) + 1).toDouble / (n2 + bins)
      math.round((p - q) * math.log(p / q) * 1000000)
    }.sum
  }

  test("drift monitor PSI twin: per-batch PSI equals the brute-force reference; shifts and empty halves verdict correctly") {
    import spark.implicits._
    import graft.streaming.DriftStream
    implicit val sqlCtx = spark.sqlContext
    val ref = (1 to 100).flatMap(c => Seq(("click", c / 100.0), ("view", c / 100.0)))
      .map { case (t, v) => Event(0, ts(0), 0, t, v) }
      .toDF().select(col("ts"), col("event_type"), col("value"))
    val refHist = DriftStream.referenceHistogram(ref).localCheckpoint()
    val verdicts = scala.collection.concurrent.TrieMap[Long, Map[String, (Long, Long, Long, Long)]]()
    val input = MemoryStream[Event]
    // monitorBoth: one verdict frame carrying BOTH gates per type
    val q = DriftStream.monitorBoth(input.toDF(), refHist) { (id, v) =>
      verdicts(id) = v.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    }.start()
    try {
      // batch 0: drawn from the reference support — the in-support case
      input.addData((1 to 50).map(c => Event(c, ts(c), 1, "click", (2 * c) / 100.0)): _*)
      q.processAllAvailable()
      // batch 1: support disjoint from the reference — mass shift
      input.addData((1 to 50).map(c => Event(c, ts(c), 1, "click", 500.0 + c)): _*)
      q.processAllAvailable()
      val b0 = verdicts(0L); val b1 = verdicts(1L)
      val refCounts = (1L to 100L).map(c => c -> 1L).toMap
      val smp0 = (1 to 50).map(c => 2L * c).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val smp1 = (1 to 50).map(c => 50000L + 100L * c).groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(b0("click")._4 == psiRef(refCounts, smp0, 16),
        s"in-support PSI must equal the brute-force reference: ${b0("click")}")
      assert(b1("click")._4 == psiRef(refCounts, smp1, 16),
        s"disjoint-support PSI must equal the brute-force reference: ${b1("click")}")
      assert(b1("click")._4 > b0("click")._4, "a support shift must raise PSI")
      assert(b1("click")._4 < 1000000000L, "computable drift must stay below the sentinel")
      // view saw no batch rows → the empty-half sentinel, dominating
      // every computable PSI (the KS column agrees: 10⁶)
      assert(b0("view")._4 == 1000000000L && b0("view")._3 == 1000000L, b0.toString)
      // batchPsi is a plain batch function — the offline run of the same
      // code path reproduces the streaming verdict exactly
      val offline = DriftStream.batchPsi(refHist,
          (1 to 50).map(c => Event(c, ts(c), 1, "click", (2 * c) / 100.0)).toDF())
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(offline("click") == b0("click")._4, s"offline $offline vs streamed $b0")
    } finally q.stop()
  }

  /** Independent brute-force two-sample Pearson χ² in plain Scala — the
    * [[psiRef]] pattern for E24: same baseline-quantile bins, expected
    * counts per contingency cell, per-bin 1e-6 rounding summed exactly.
    */
  private def chi2Ref(ref: Map[Long, Long], smp: Map[Long, Long], bins: Int): Long = {
    val n1 = ref.values.sum; val n2 = smp.values.sum
    if (n1 == 0L || n2 == 0L) return 1000000000L
    val b1 = Array.fill(bins)(0L); val b2 = Array.fill(bins)(0L)
    var below = 0L
    (ref.keySet ++ smp.keySet).toSeq.sorted.foreach { v =>
      val bin = math.min(bins - 1L, bins * below / n1).toInt
      b1(bin) += ref.getOrElse(v, 0L); b2(bin) += smp.getOrElse(v, 0L)
      below += ref.getOrElse(v, 0L)
    }
    (0 until bins).map { i =>
      val c = b1(i) + b2(i)
      if (c == 0L) 0L
      else {
        val e1 = n1.toDouble * c / (n1 + n2)
        val e2 = n2.toDouble * c / (n1 + n2)
        math.round(((b1(i) - e1) * (b1(i) - e1) / e1
          + (b2(i) - e2) * (b2(i) - e2) / e2) * 1000000)
      }
    }.sum
  }

  test("drift scorecard: monitorScorecard carries KS + PSI + χ² per type; χ² equals brute force") {
    import spark.implicits._
    import graft.streaming.DriftStream
    implicit val sqlCtx = spark.sqlContext
    val ref = (1 to 100).flatMap(c => Seq(("click", c / 100.0), ("view", c / 100.0)))
      .map { case (t, v) => Event(0, ts(0), 0, t, v) }
      .toDF().select(col("ts"), col("event_type"), col("value"))
    val refHist = DriftStream.referenceHistogram(ref).localCheckpoint()
    val verdicts = scala.collection.concurrent.TrieMap[Long, Map[String, (Long, Long, Long)]]()
    val q = {
      val input = MemoryStream[Event]
      val w = DriftStream.monitorScorecard(input.toDF(), refHist) { (id, v) =>
        verdicts(id) = v.collect()
          .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      }.start()
      input.addData((1 to 50).map(c => Event(c, ts(c), 1, "click", (2 * c) / 100.0)): _*)
      w.processAllAvailable()
      input.addData((1 to 50).map(c => Event(c, ts(c), 1, "click", 500.0 + c)): _*)
      w.processAllAvailable()
      w
    }
    try {
      val b0 = verdicts(0L); val b1 = verdicts(1L)
      val refCounts = (1L to 100L).map(c => c -> 1L).toMap
      val smp0 = (1 to 50).map(c => 2L * c).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val smp1 = (1 to 50).map(c => 50000L + 100L * c).groupBy(identity).view.mapValues(_.size.toLong).toMap
      // χ² equals the independent plain-Scala recomputation exactly
      assert(b0("click")._3 == chi2Ref(refCounts, smp0, 16), b0("click").toString)
      assert(b1("click")._3 == chi2Ref(refCounts, smp1, 16), b1("click").toString)
      // a support shift raises every member of the scorecard
      assert(b1("click")._1 > b0("click")._1, "KS must rise")
      assert(b1("click")._2 > b0("click")._2, "PSI must rise")
      assert(b1("click")._3 > b0("click")._3, "χ² must rise")
      // the type with no batch rows scores every sentinel at once
      assert(b0("view") == ((1000000L, 1000000000L, 1000000000L)), b0("view").toString)
    } finally q.stop()
  }

  test("batchChi2 shares the oracle-gated core: reproduces q_drift_chi2 when fed the same halves") {
    import graft.operators.Analytics
    import graft.io.Tables
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), unix_millis(col("ts")).as("ms"))
    val mid = ev.agg(expr("(min(ms) + max(ms)) div 2").as("mid")).first().getLong(0)
    val refHist = graft.streaming.DriftStream.referenceHistogram(
      ev.where(col("ms") < mid))
    val streamed = graft.streaming.DriftStream.batchChi2(refHist, ev.where(col("ms") >= mid))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Analytics.driftChi2(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
  }

  test("batchPsi shares the oracle-gated core: reproduces q_drift_psi when fed the same halves") {
    import graft.operators.Analytics
    import graft.io.Tables
    // split the events table at driftPsi's own midpoint and feed the
    // halves through the STREAMING entry — one shared core, one answer
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), unix_millis(col("ts")).as("ms"))
    val mid = ev.agg(expr("(min(ms) + max(ms)) div 2").as("mid")).first().getLong(0)
    val refHist = graft.streaming.DriftStream.referenceHistogram(
      ev.where(col("ms") < mid))
    val streamed = graft.streaming.DriftStream.batchPsi(refHist, ev.where(col("ms") >= mid))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Analytics.driftPsi(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
  }
}
