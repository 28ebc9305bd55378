package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.io.Layout

/** r19 lifecycle surfaces: generation-pinned reads (time travel),
  * schema evolution beyond add (drop/rename + the resurrection guard),
  * partitioned right-to-erasure, the storage-relative vacuum age gate,
  * and k-dimensional z-order clustering.
  */
class LifecycleSpec extends GraftSuite {

  private def tableLoc(table: String): java.io.File =
    new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED `$table`")
        .where(col("col_name") === "Location").first().getString(1)))

  private def shuffles(p: String): Int =
    p.linesIterator.count(_.matches("""^\(\d+\) Exchange\s*$"""))

  test("readTableAt pins a generation: the pre-merge view survives a CDC merge byte-identically") {
    import spark.implicits._
    val base = (0L until 40L).map(k => (k, k * 10, s"v$k"))
      .toDF("o_orderkey", "o_custkey", "name")
    Layout.writeBucketed(base, "b_tt", "o_orderkey", 4)
    val gen1 = Layout.tableGenerations(spark, "b_tt").max
    val epoch1 = Layout.readTable(spark, "b_tt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    Layout.mergeBucketed(spark, "b_tt", "o_orderkey", 4,
      Seq((5L, 555L, "v5-changed"), (100L, 1L, "new")).toDF("o_orderkey", "o_custkey", "name"))
    val gen2 = Layout.tableGenerations(spark, "b_tt").max
    assert(gen2 > gen1)
    // the live read serves the merged state...
    val live = Layout.readTable(spark, "b_tt")
    assert(live.where(col("o_orderkey") === 5L).select("name").as[String].head() == "v5-changed")
    assert(live.count() == 41)
    // ...and the pinned read serves EXACTLY the pre-merge epoch — the
    // replaced rows come back from _pre_merge, the rest from live files
    val pinned = Layout.readTableAt(spark, "b_tt", gen1)
    assert(pinned.columns.toSeq == Seq("o_orderkey", "o_custkey", "name"))
    assert(pinned.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == epoch1)
    // pinning the CURRENT generation equals the live view — AND keeps the
    // bucketed zero-Exchange plan (the pin-now-train-on-it cadence must
    // not pay the historical plain-scan path while nothing has moved)
    val curPin = Layout.readTableAt(spark, "b_tt", gen2)
    assert(curPin.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      == live.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet)
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = curPin.join(curPin.groupBy("o_orderkey").count(), "o_orderkey")
        .queryExecution.explainString(FormattedMode)
      assert(p.contains("Bucketed: true") && shuffles(p) == 0,
        s"a current-generation pin must keep the bucketed plan:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
    // a generation never written fails loudly, listing what IS retained
    val e = intercept[RuntimeException] { Layout.readTableAt(spark, "b_tt", 99L) }
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("readTableAt vacuum interplay: a reclaimed generation fails LOUDLY, never partially") {
    import spark.implicits._
    val base = (0L until 40L).map(k => (k, k * 10))
      .toDF("o_orderkey", "o_custkey")
    Layout.writeBucketed(base, "b_ttv", "o_orderkey", 4)
    val gen1 = Layout.tableGenerations(spark, "b_ttv").max
    Layout.mergeBucketed(spark, "b_ttv", "o_orderkey", 4,
      Seq((5L, 555L)).toDF("o_orderkey", "o_custkey"))
    val gen2 = Layout.tableGenerations(spark, "b_ttv").max
    // still reachable: _pre_merge/g<gen1> retains the replaced file
    assert(Layout.readTableAt(spark, "b_ttv", gen1).count() == 40)
    // r19 per-generation retirement: a SECOND merge on the same bucket
    // retires into ITS OWN generation dir — BOTH prior epochs stay
    // pinnable until vacuum (pin depth IS the retention policy)
    Layout.mergeBucketed(spark, "b_ttv", "o_orderkey", 4,
      Seq((5L, 777L)).toDF("o_orderkey", "o_custkey"))
    assert(Layout.readTableAt(spark, "b_ttv", gen1)
      .where(col("o_orderkey") === 5L).select("o_custkey").as[Long].head() == 50L)
    assert(Layout.readTableAt(spark, "b_ttv", gen2)
      .where(col("o_orderkey") === 5L).select("o_custkey").as[Long].head() == 555L)
    assert(Layout.readTable(spark, "b_ttv")
      .where(col("o_orderkey") === 5L).select("o_custkey").as[Long].head() == 777L)
    // vacuum(0) reclaims every aged generation (bytes + superseded
    // manifests) → the pins fail LOUDLY, never partially
    assert(Layout.vacuumTable(spark, "b_ttv", retentionMs = 0L) > 0L)
    val e2 = intercept[RuntimeException] {
      Layout.readTableAt(spark, "b_ttv", gen2).count()
    }
    assert(e2.getMessage.contains("not retained")
      || e2.getMessage.contains("no longer fully retained"), e2.getMessage)
    // the CURRENT generation is untouched by the vacuum
    assert(Layout.readTable(spark, "b_ttv").count() == 40)
  }

  test("readTableAt composes with exactly-once ingest: pin the exact snapshot between micro-batches") {
    import spark.implicits._
    // the training-pipeline shape B18 exists for: a live ingest cadence
    // advances the table while an epoch trains on the file set it started
    // from — the pin must keep serving that set across later batches
    val base = (0L until 30L).map(k => (k, k * 2)).toDF("o_orderkey", "o_custkey")
    Layout.writeBucketed(base, "b_ttb", "o_orderkey", 4)
    assert(Layout.appendBucketedBatch(
      (100L until 110L).map(k => (k, k)).toDF("o_orderkey", "o_custkey"),
      "b_ttb", "o_orderkey", 4, batchId = 1L))
    val epochGen = Layout.tableGenerations(spark, "b_ttb").max
    assert(Layout.appendBucketedBatch(
      (200L until 205L).map(k => (k, k)).toDF("o_orderkey", "o_custkey"),
      "b_ttb", "o_orderkey", 4, batchId = 2L))
    assert(Layout.readTable(spark, "b_ttb").count() == 45)
    val pinned = Layout.readTableAt(spark, "b_ttb", epochGen)
    assert(pinned.count() == 40, "the epoch sees batches 0-1, not batch 2")
    assert(pinned.where(col("o_orderkey") >= 200L).count() == 0)
    // appends never retire files, so ANY past ingest generation stays
    // pinnable without a retention dependency
    assert(Layout.readTableAt(spark, "b_ttb",
      Layout.tableGenerations(spark, "b_ttb").min).count() == 30)
  }

  test("forgetKeysDir on a PARTITION-column key deletes whole partitions and their bytes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("forget-pk").toString + "/t"
    val base = (0L until 30L).map(k => (k, s"u$k", (k % 3).toString)).toDF("id", "name", "p")
    Layout.writePartitioned(base, dir, "p")
    val root = new java.io.File(new java.io.File(dir).getCanonicalPath)
    // the INFERRED partition-column dtype is what the id batch must match
    // (partition discovery types "0"/"1"/"2" dir values as int — the same
    // loud dtype contract as a data column, exercised here)
    val pType = Layout.readDir(spark, dir).schema("p").dataType
    assert(pType == org.apache.spark.sql.types.IntegerType)
    val n = Layout.forgetKeysDir(spark, dir, "p", Seq(1).toDF("p"))
    assert(n == 1)
    val t = Layout.readDir(spark, dir)
    assert(t.where(col("p") === 1).count() == 0)
    assert(t.count() == 20)
    assert(!new java.io.File(root, "p=1").exists(), "emptied partition dir pruned")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(!walk(root).exists(_.getPath.contains("p=1")), "no residual bytes")
  }

  test("readDirAt pins a partitioned swap generation with partition columns intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tt-dir").toString + "/t"
    val v1 = (0L until 30L).map(k => (k, if (k % 3 == 0) "a" else "b")).toDF("id", "p")
    Layout.writePartitioned(v1, dir, "p")
    val v2 = (100L until 110L).map(k => (k, "c")).toDF("id", "p")
    Layout.writePartitioned(v2, dir, "p")
    val gens = Layout.generations(spark, dir)
    assert(gens.size == 2 && gens == gens.sorted, gens.toString)
    // pinned epoch 1: the v1 rows, WITH the col=value partition column —
    // the retired files keep their subdir structure under _pre_swap
    val pinned = Layout.readDirAt(spark, dir, gens.head)
    assert(pinned.columns.toSet == Set("id", "p"))
    assert(pinned.select("id", "p").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == v1.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(Layout.readDirAt(spark, dir, gens.last).select("id").as[Long].collect().toSet
      == (100L until 110L).toSet)
    assert(Layout.readDir(spark, dir).count() == 10)
    // a COMPACTION between reads: EVERY prior epoch stays pinnable (r19
    // per-generation retirement — each pass retires under its own g<N>
    // dir, so history depth is the vacuum retention, not one pass)
    Layout.compact(spark, dir, dir)
    val gens2 = Layout.generations(spark, dir)
    assert(gens2.size == 3)
    assert(Layout.readDirAt(spark, dir, gens.last).select("id").as[Long].collect().toSet
      == (100L until 110L).toSet, "pre-compact epoch pinned from retirement")
    assert(Layout.readDirAt(spark, dir, gens.head).select("id").as[Long].collect().toSet
      == (0L until 30L).toSet, "the epoch TWO passes back pins too")
    // only vacuum ends the history — and loudly
    assert(Layout.vacuum(spark, dir, retentionMs = 0L) > 0L)
    val e = intercept[RuntimeException] { Layout.readDirAt(spark, dir, gens.head).count() }
    assert(e.getMessage.contains("retained"), e.getMessage)
  }

  test("dropColumn is a free catalog migration; the resurrection guard closes the re-add hole") {
    import spark.implicits._
    val base = (0L until 20L).map(k => (k, k * 10, s"secret-$k"))
      .toDF("o_orderkey", "o_custkey", "name")
    Layout.writeBucketed(base, "b_drop", "o_orderkey", 4)
    val loc = tableLoc("b_drop")
    val filesBefore = loc.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    Layout.dropColumn(spark, "b_drop", "name")
    // metadata-only: byte-identical files, narrowed reads
    val filesAfter = loc.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    assert(filesAfter == filesBefore, "no data file may be rewritten by the drop")
    assert(Layout.readTable(spark, "b_drop").columns.toSeq == Seq("o_orderkey", "o_custkey"))
    // a CDC merge across pre-drop files works through the narrowed schema
    Layout.mergeBucketed(spark, "b_drop", "o_orderkey", 4,
      Seq((1L, 999L)).toDF("o_orderkey", "o_custkey"))
    assert(Layout.readTable(spark, "b_drop").where(col("o_orderkey") === 1L)
      .select("o_custkey").as[Long].head() == 999L)
    // double-drop, layout-column drop: rejected loudly
    assert(intercept[IllegalArgumentException] {
      Layout.dropColumn(spark, "b_drop", "name")
    }.getMessage.contains("does not exist"))
    assert(intercept[IllegalArgumentException] {
      Layout.dropColumn(spark, "b_drop", "o_orderkey")
    }.getMessage.contains("bucket/sort"))
    // re-adding the dropped name would RESURRECT the old bytes (parquet
    // name-based resolution) — rejected until a physical rewrite
    assert(intercept[IllegalArgumentException] {
      Layout.addColumn(spark, "b_drop", "name", "string")
    }.getMessage.contains("RESURRECT"))
    // compactBucketed is the physical migration: dropped bytes shed...
    Layout.compactBucketed(spark, "b_drop", "o_orderkey", 4)
    val rawCols = spark.read.parquet(tableLoc("b_drop").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString): _*).columns
    assert(!rawCols.contains("name"), s"physical rewrite must shed the bytes: ${rawCols.toSeq}")
    // ...after which the re-add is legal and reads null everywhere — a
    // fresh column, NOT the resurrected secrets
    Layout.addColumn(spark, "b_drop", "name", "string")
    val t = Layout.readTable(spark, "b_drop")
    assert(t.columns.contains("name"))
    assert(t.where(col("name").isNotNull).count() == 0, "re-added column must read null")
  }

  test("renameColumn is an explicit rewrite: content preserved, bucket layout preserved") {
    import spark.implicits._
    val base = (0L until 24L).map(k => (k, k * 10)).toDF("o_orderkey", "o_custkey")
    Layout.writeBucketed(base, "b_ren", "o_orderkey", 4)
    Layout.renameColumn(spark, "b_ren", "o_custkey", "cust_id")
    val t1 = Layout.readTable(spark, "b_ren")
    assert(t1.columns.toSeq == Seq("o_orderkey", "cust_id"))
    assert(t1.select("o_orderkey", "cust_id").as[(Long, Long)].collect().toSet
      == (0L until 24L).map(k => (k, k * 10)).toSet)
    // a catalog-only rename would read NULL from every old file — the
    // rewrite must leave the values physically under the NEW name
    assert(t1.where(col("cust_id").isNull).count() == 0)
    // renaming the bucket key re-buckets on the new name: zero-Exchange
    // self-join still plans bucketed
    Layout.renameColumn(spark, "b_ren", "o_orderkey", "okey")
    val t2 = Layout.readTable(spark, "b_ren")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = t2.join(t2.groupBy("okey").count(), "okey")
        .queryExecution.explainString(FormattedMode)
      assert(p.contains("Bucketed: true") && shuffles(p) == 0, p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // collision / absence / injection rejected loudly
    assert(intercept[IllegalArgumentException] {
      Layout.renameColumn(spark, "b_ren", "okey", "cust_id")
    }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      Layout.renameColumn(spark, "b_ren", "ghost", "x")
    }.getMessage.contains("does not exist"))
    assert(intercept[IllegalArgumentException] {
      Layout.renameColumn(spark, "b_ren", "okey", "x`y")
    }.getMessage.contains("backtick"))
  }

  test("addColumn validates its operands instead of executing them as DDL") {
    import spark.implicits._
    Layout.writeBucketed((0L until 4L).map(k => (k, k)).toDF("o_orderkey", "v"),
      "b_inject", "o_orderkey", 2)
    // a backtick in the name would escape the quoting
    assert(intercept[IllegalArgumentException] {
      Layout.addColumn(spark, "b_inject", "x` int, `y", "int")
    }.getMessage.contains("backtick"))
    // non-type text in dataType must fail the PARSE, not reach DDL
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      Layout.addColumn(spark, "b_inject", "x", "int) USING parquet; DROP TABLE b_inject; --")
    }
    assert(spark.catalog.tableExists("b_inject"))
    assert(Layout.readTable(spark, "b_inject").columns.toSeq == Seq("o_orderkey", "v"))
  }

  test("forgetKeysDir erases the keys' bytes from a partitioned directory, file-granularly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("forget-dir").toString + "/t"
    val base = (0L until 40L).map(k => (k, s"user-$k", if (k % 2 == 0) "even" else "odd"))
      .toDF("id", "name", "p")
    Layout.writePartitioned(base, dir, "p")
    val root = new java.io.File(new java.io.File(dir).getCanonicalPath)
    // plant a crashed Spark job's staging copy holding a victim's row —
    // the r18 ADVICE window an erasure must also purge
    Seq((5L, "user-5", "odd")).toDF("id", "name", "p")
      .write.parquet(new java.io.File(root, "_temporary/0/attempt_x").toString)
    // file-granular: the even partition holds no requested key, so its
    // files must be untouched (same name+len+mtime — same inodes)
    def inventory(sub: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(root, sub)
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val evenBefore = inventory("p=even")
    val n = Layout.forgetKeysDir(spark, dir, "id", Seq(5L, 7L, 7L, 999L).toDF("uid"))
    assert(n == 3, "distinct requested keys (absent ones vacuously erased)")
    val t = Layout.readDir(spark, dir)
    assert(t.where(col("id").isin(5L, 7L)).count() == 0)
    assert(t.count() == 38, "every other row survives")
    assert(t.columns.toSet == Set("id", "name", "p"), "partition column survives")
    assert(inventory("p=even") == evenBefore, "partitions without keys keep their files")
    // the hard guarantee: NO file anywhere under the location still holds
    // the keys — crashed-job staging purged, affected files rewritten
    assert(!new java.io.File(root, "_temporary").exists(), "crashed-job staging purged")
    assert(!new java.io.File(root, "_pre_swap").exists())
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val allFiles = walk(root).filter(_.getName.endsWith(".parquet"))
    val residual = spark.read.option("basePath", root.toString)
      .parquet(allFiles.map(_.toString): _*)
      .where(col("id").isin(5L, 7L)).count()
    assert(residual == 0, "no surviving file may hold the erased keys' bytes")
    // erasure resets history: only the post-erasure generation remains,
    // so no pre-erasure pin can serve a partial (or victim-holding) epoch
    assert(Layout.generations(spark, dir).size == 1,
      s"superseded manifests must go with the erasure: ${Layout.generations(spark, dir)}")
    // a crashed earlier swap's UNMANIFESTED live file (not staging — a
    // data file sitting in a partition dir that no manifest names) can
    // hold a victim's bytes; the erasure's outside-the-manifest sweep
    // must take it even though the manifest-pinned read never saw it
    val ghostTmp = java.nio.file.Files.createTempDirectory("ghost").toString
    Seq((7L, "user-7")).toDF("id", "name").write.mode("overwrite").parquet(ghostTmp)
    val ghostSrc = new java.io.File(ghostTmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val ghostDst = new java.io.File(root, "p=odd/part-ghost-crashed.parquet")
    java.nio.file.Files.move(ghostSrc.toPath, ghostDst.toPath)
    assert(Layout.forgetKeysDir(spark, dir, "id", Seq(7L).toDF("uid")) == 1)
    assert(!ghostDst.exists(), "an unmanifested crashed-swap file must be swept by erasure")
    assert(Layout.readDir(spark, dir).count() == 38, "live view unchanged by the ghost sweep")
    // dtype mismatch rejected loudly — never a silent cast
    assert(intercept[IllegalArgumentException] {
      Layout.forgetKeysDir(spark, dir, "id", Seq(5.0).toDF("uid"))
    }.getMessage.contains("cast the id batch"))
  }

  test("vacuum ages storage-relative: a storage clock ahead of the driver cannot stall the sweep") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vac-skew").toString + "/t"
    Layout.writePartitioned((0L until 10L).map(k => (k, "a")).toDF("id", "p"), dir, "p")
    Layout.writePartitioned((10L until 15L).map(k => (k, "b")).toDF("id", "p"), dir, "p")
    val root = new org.apache.hadoop.fs.Path(new java.io.File(dir).getCanonicalPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_pre_swap")))
    // skewed-clock fixture: the STORAGE's timeline sits 2 h ahead of the
    // driver's — live activity at now+2h, the retirement 1 h older
    val now = System.currentTimeMillis()
    def retime(p: org.apache.hadoop.fs.Path, t: Long): Unit = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) fs.listStatus(p).foreach(s => retime(s.getPath, t))
      fs.setTimes(p, t, -1)
    }
    fs.listStatus(root).foreach { s =>
      val t = if (s.getPath.getName == "_pre_swap") now + 3600_000L else now + 7200_000L
      retime(s.getPath, t)
    }
    // a driver-clock gate sees every mtime "in the future" and can never
    // sweep; the storage-relative gate measures 1 h of age against the
    // location's own newest instant and reclaims at a 30 min retention
    assert(Layout.vacuum(spark, dir, retentionMs = 1800_000L) > 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_pre_swap")))
    assert(Layout.readDir(spark, dir).select("id").as[Long].collect().toSet
      == (10L until 15L).toSet, "live table untouched")
  }

  test("vacuum reclaims superseded manifest generations past the retention, never the newest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vac-gens").toString + "/t"
    Layout.writePartitioned((0L until 5L).map(k => (k, "a")).toDF("id", "p"), dir, "p")
    Layout.writePartitioned((5L until 9L).map(k => (k, "b")).toDF("id", "p"), dir, "p")
    assert(Layout.generations(spark, dir).size == 2)
    assert(Layout.vacuum(spark, dir, retentionMs = 0L) > 0L)
    val gens = Layout.generations(spark, dir)
    assert(gens.size == 1, s"only the newest generation survives: $gens")
    assert(Layout.readDir(spark, dir).count() == 4)
    // the reclaimed generation now fails loudly — the vacuum guard
    val e = intercept[RuntimeException] { Layout.readDirAt(spark, dir, gens.head - 1) }
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("zorderWriteK at k=3: a predicate on EACH dimension alone skips at least half the files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{input_file_name, max => fmax, min => fmin}
    // three near-independent permutations of 0..n — every dimension is
    // adversarial to a layout that favors the others
    // 64 files so each of the 3 dims gets ≥2 bits of per-file rank
    // resolution (log2(64)/3) — at 16 files the third dim has ~1 bit and
    // the skip rate sits at exactly the noise boundary
    val n = 65536
    val df = (0 until n).map { i =>
      (i.toLong, ((i.toLong * 7919L) % n), ((i.toLong * 104729L) % n))
    }.toDF("a", "b", "c")
    val dir = java.nio.file.Files.createTempDirectory("z3").toString + "/t"
    Layout.zorderWriteK(df, dir, Seq("a", "b", "c"), files = 64)
    val read = spark.read.parquet(dir)
    assert(read.count() == n, "rewrite is lossless")
    for (dim <- Seq("a", "b", "c")) {
      val stats = read.groupBy(input_file_name().as("f"))
        .agg(fmin(dim).as("mn"), fmax(dim).as("mx"))
      val all = stats.count()
      // bottom-eighth range predicate on this dimension alone
      val hit = stats.where(col("mn") <= n / 8).count()
      assert(all >= 8, s"enough files to make skipping meaningful ($all)")
      assert(hit * 2 <= all, s"dim $dim: z-order must skip at least half ($hit of $all)")
    }
  }

  test("InterleaveBits at k=2 is bit-identical to Interleave16; nulls propagate") {
    import spark.implicits._
    import graft.functions.VectorExpressions
    val df = (0 until 512).map(i => (i.toLong * 131L % 65536L, i.toLong * 31019L % 65536L))
      .toDF("a", "b")
    val mismatches = df.select(
      VectorExpressions.interleaveBits(Seq(col("a"), col("b")), 16).as("zk"),
      VectorExpressions.interleave16(col("a"), col("b")).as("z2"))
      .where(col("zk") =!= col("z2")).count()
    assert(mismatches == 0)
    val withNull = Seq((Some(1L), None: Option[Long])).toDF("a", "b")
      .select(VectorExpressions.interleaveBits(Seq(col("a"), col("b")), 16).as("z"))
    assert(withNull.where(col("z").isNull).count() == 1)
  }

  test("maintainAdditive equals a full recompute across inserts, folds, retractions, and new keys") {
    import spark.implicits._
    // raw contributions in four batches: keys overlap, batch 2 brings a
    // NEW key, batch 3 RETRACTS (negative deltas — the CDC correction
    // shape); doubles + longs exercise both numeric families
    val batches = Seq(
      Seq((1L, 2L, 10.0), (2L, 1L, 5.5), (3L, 4L, -2.0)),
      Seq((1L, 1L, 3.0), (3L, 2L, 8.0)),
      Seq((9L, 5L, 100.25), (2L, 3L, 0.0)),
      Seq((1L, -1L, -3.0), (9L, -2L, -50.0)))
    def agg(rows: Seq[(Long, Long, Double)]) =
      rows.toDF("k", "n", "v").groupBy(col("k"))
        .agg(sum(col("n")).as("n"), sum(col("v")).as("v"))
    Layout.writeBucketed(agg(batches.head), "b_ma", "k", 4)
    batches.tail.foreach(b => Layout.maintainAdditive(spark, "b_ma", "k", 4, agg(b)))
    val got = Layout.readTable(spark, "b_ma").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = agg(batches.flatten).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"maintained $got vs recompute $want")
    // the retraction zeroed key 9's count to 3: present, not deleted —
    // row retirement is a policy call (compose with forgetKeys)
    assert(got.exists(_._1 == 9L))
  }

  test("maintainAdditiveBatch: a re-delivered maintenance batch cannot double-fold") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // a maintenance fold is NOT naturally idempotent (unlike an append, a
    // double-fold is invisible in the row count) — the hwm gate is the
    // only defense, so drive it through the real foreachBatch cadence
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("k")).agg(sum(col("n")).as("n"))
    Layout.writeBucketed(agg(Seq((1L, 5L), (2L, 7L)).toDF("k", "n")), "b_mab", "k", 2)
    val input = MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("k", "n").writeStream
      .foreachBatch(Layout.maintainSink("b_mab", "k", 2)(agg)).start()
    input.addData(Seq((1L, 1L), (3L, 2L))); q.processAllAvailable()
    input.addData(Seq((2L, 10L), (3L, 1L))); q.processAllAvailable()
    q.stop()
    def state = Layout.readTable(spark, "b_mab").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Set((1L, 6L), (2L, 17L), (3L, 3L))
    assert(state == expect, s"streamed folds: $state")
    // crash-restart re-delivery of the last committed id — no-op even
    // with a different payload (a double-fold would be silent sum
    // corruption, indistinguishable from real data)
    assert(!Layout.maintainAdditiveBatch(spark, "b_mab", "k", 2,
      agg(Seq((1L, 100L)).toDF("k", "n")), 1L))
    assert(state == expect, "a re-delivered maintenance batch must not re-fold")
    // the next id applies…
    assert(Layout.maintainAdditiveBatch(spark, "b_mab", "k", 2,
      agg(Seq((1L, 1L)).toDF("k", "n")), 2L))
    assert(state == Set((1L, 7L), (2L, 17L), (3L, 3L)))
    // …and a fresh checkpoint's batch 0 against the marked table rejects
    val e = intercept[IllegalArgumentException] {
      Layout.maintainAdditiveBatch(spark, "b_mab", "k", 2,
        agg(Seq((1L, 1L)).toDF("k", "n")), 0L)
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("a maintained aggregate's epochs stay pinnable: readTableAt reproduces the pre-fold state") {
    import spark.implicits._
    // B18 × B22: every maintenance fold is a merge, so the generation log
    // retains each aggregate EPOCH — "score this model against the exact
    // counts epoch N saw" keeps working while the maintenance cadence runs
    def agg(rows: Seq[(Long, Long)]) =
      rows.toDF("k", "n").groupBy(col("k")).agg(sum(col("n")).as("n"))
    Layout.writeBucketed(agg(Seq((1L, 5L), (2L, 7L))), "b_map", "k", 2)
    Layout.maintainAdditive(spark, "b_map", "k", 2, agg(Seq((1L, 1L), (3L, 2L))))
    val gen1 = Layout.tableGenerations(spark, "b_map").max
    val epoch1 = Layout.readTable(spark, "b_map").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Layout.maintainAdditive(spark, "b_map", "k", 2, agg(Seq((1L, 10L), (2L, -7L))))
    // live moved on…
    assert(Layout.readTable(spark, "b_map").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 16L), (2L, 0L), (3L, 2L)))
    // …the pinned epoch did not
    assert(Layout.readTableAt(spark, "b_map", gen1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == epoch1)
    assert(epoch1 == Set((1L, 6L), (2L, 7L), (3L, 2L)))
  }

  test("a NULL-keyed delta is rejected: key-equality joins cannot honor the replace contract") {
    import spark.implicits._
    // null never equals null in the anti/semi joins the merge and the
    // maintenance fold ride — a null-keyed row would duplicate instead of
    // replace (merge) or replace instead of fold (maintenance). The
    // shared chokepoint rejects both paths loudly.
    Layout.writeBucketed(Seq((Some(1L), 2L), (None, 5L)).toDF("k", "n"), "b_nk", "k", 2)
    val nullDelta = Seq((None: Option[Long], 9L)).toDF("k", "n")
    val e1 = intercept[IllegalArgumentException] {
      Layout.mergeBucketed(spark, "b_nk", "k", 2, nullDelta)
    }
    assert(e1.getMessage.contains("NULL"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Layout.maintainAdditive(spark, "b_nk", "k", 2, nullDelta)
    }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
    // the reject left the table untouched
    assert(Layout.readTable(spark, "b_nk").count() == 2)
  }

  test("writer lease: a live foreign lease rejects maintenance loudly; a stale one is broken") {
    import spark.implicits._
    // cross-process single-writer enforcement: another process's live
    // `_writer.lock` must fail the op BEFORE any mutation; a crashed
    // process's stale lock must age out and be taken over
    Layout.writeBucketed(Seq((1L, 2L), (2L, 3L)).toDF("k", "n"), "b_ws", "k", 2)
    val lock = new java.io.File(tableLoc("b_ws"), "_writer.lock")
    assert(lock.createNewFile(), "plant a foreign live lease")
    val delta = Seq((1L, 9L)).toDF("k", "n")
    val gens = Layout.tableGenerations(spark, "b_ws")
    Seq[(String, () => Unit)](
      "mergeBucketed" -> (() => Layout.mergeBucketed(spark, "b_ws", "k", 2, delta)),
      "renameColumn" -> (() => Layout.renameColumn(spark, "b_ws", "n", "m")),
      "appendBucketed" -> (() =>
        Layout.appendBucketed(Seq((3L, 4L)).toDF("k", "n"), "b_ws", "k", 2))
    ).foreach { case (op, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("another writer"), s"$op: ${e.getMessage}")
      val t = Layout.readTable(spark, "b_ws")
      assert(t.columns.toSeq == Seq("k", "n") && t.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L), (2L, 3L))
        && Layout.tableGenerations(spark, "b_ws") == gens,
        s"$op: the reject must precede any mutation")
    }
    // crash recovery: age the foreign lock past the stale threshold —
    // broken, taken over, and the op completes
    assert(lock.setLastModified(System.currentTimeMillis() - Layout.leaseStaleMs - 60000L))
    Layout.mergeBucketed(spark, "b_ws", "k", 2, delta)
    assert(Layout.readTable(spark, "b_ws").where(col("k") === 1L)
      .select("n").first().getLong(0) == 9L)
    assert(!lock.exists(), "a completed pass must release the lease")
  }

  test("a DataFrame instance survives reuse across layout calls (pinning must not poison the caller's plan)") {
    import spark.implicits._
    // Dataset.rdd is a cached lazy val: before the fresh-lineage pin, the
    // first call's checkpoint+unpersist left the SAME instance's second
    // use reading evicted blocks (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) —
    // exactly the documented re-run-after-failure recovery shape
    val delta = Seq((1L, 100L)).toDF("k", "n")
    Layout.writeBucketed(Seq((1L, 2L), (2L, 3L)).toDF("k", "n"), "b_reuse", "k", 2)
    Layout.mergeBucketed(spark, "b_reuse", "k", 2, delta)
    Layout.mergeBucketed(spark, "b_reuse", "k", 2, delta) // same instance — the retry
    val got = Layout.readTable(spark, "b_reuse").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (2L, 3L)), got.toString)
  }

  test("maintainAdditive rejects a mismatched batch schema and non-numeric aggregates") {
    import spark.implicits._
    Layout.writeBucketed(Seq((1L, 2L)).toDF("k", "n"), "b_ma2", "k", 2)
    // silently-castable but MISMATCHED type (int vs bigint) must reject —
    // a cast here would corrupt sums with no oracle in sight
    val wrongType = Seq((1, 2)).toDF("k", "n")
    intercept[IllegalArgumentException] {
      Layout.maintainAdditive(spark, "b_ma2", "k", 2, wrongType)
    }
    // a non-numeric aggregate column cannot be maintained additively
    Layout.writeBucketed(Seq((1L, "x")).toDF("k", "s"), "b_ma3", "k", 2)
    intercept[IllegalArgumentException] {
      Layout.maintainAdditive(spark, "b_ma3", "k", 2, Seq((2L, "y")).toDF("k", "s"))
    }
  }

  test("q_timetravel is non-vacuous: the merge corrupts the live table; the pin restores the epoch") {
    // the oracle gate would pass VACUOUSLY if the corrupting merge
    // silently no-opped (pin == live == raw) — this spec pins that the
    // LIVE table genuinely differs from the pinned epoch at test scale
    val pinned = SparkEntry.queries("q_timetravel")(spark, sf)
    val tag = Layout.dirTag(sf) + "_" +
      Layout.sourceFingerprint(spark, s"$sf/orders.parquet")
    val agg = (df: org.apache.spark.sql.DataFrame) => df
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).cast("long").as("sum_cents"),
        countDistinct(col("o_custkey")).as("n_custs"))
    val live = agg(Layout.readTable(spark, s"g_tt_orders_$tag"))
    // updates leaked INTO the live view: the out-of-domain group exists
    // there (8 keys at sf0.001: %97==0 and not %194==0), zeroed cents
    val foreign = live.where(col("o_orderpriority") === "9-POST-PIN").collect()
    assert(foreign.length == 1 && foreign.head.getLong(1) == 8L
      && foreign.head.getLong(2) == 0L, foreign.mkString(","))
    // ...and tombstones left it: 8 of 1500 rows gone from live
    val liveTotal = live.agg(sum(col("n_orders"))).first().getLong(0)
    assert(liveTotal == 1492L, s"live total $liveTotal")
    // the PIN sees none of that: no foreign group, full row count, and
    // value-identical to the same aggregate over the raw source (the
    // in-Spark twin of the DuckDB oracle)
    assert(pinned.where(col("o_orderpriority") === "9-POST-PIN").isEmpty)
    val raw = agg(graft.io.Tables.orders(spark, sf).select(col("o_custkey"),
      col("o_orderpriority"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")))
    assert(pinned.exceptAll(raw).isEmpty && raw.exceptAll(pinned).isEmpty)
  }
}
