package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-layout tools for the 100 TB tier (SURVEY.md §5): bucketing
  * co-locates every future join/aggregation on the bucket key (the shuffle
  * is paid ONCE at write time, then every consumer reads pre-partitioned,
  * pre-sorted buckets), and partitioned directories give scans partition
  * pruning — the file-level analogue of predicate pushdown.
  *
  * Pangool had no storage-layout story (TupleFile is a flat sequence);
  * this is the Spark-native replacement for the "pre-partitioned inputs"
  * idiom its reduce-side joins assumed
  * (reference: core/.../tuplemr/mapred/lib/input/TupleInputFormat.java).
  */
object Layout {

  /** Write as a bucketed+sorted managed parquet table. A join or groupBy on
    * `key` between tables bucketed the same way plans with ZERO Exchange —
    * pinned in LayoutSpec; at 100 TB that's the fact⋈fact shuffle paid once
    * at write time instead of per query. (Spark ≥3.0 still inserts a
    * partition-LOCAL sort before an SMJ — it doesn't propagate bucket-file
    * ordering by default since that forces one-bucket-per-task scans; the
    * sort is exchange-free and spill-bounded.)
    *
    * The repartition aligns write tasks with buckets (same Murmur3 hash) so
    * each bucket is ONE file — predictable file sizes and the layout AQE
    * and bucket pruning reason about best.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      hwm: Long = -1L): Unit = {
    val spark = df.sparkSession
    // an orphaned location (table dir left by a session whose in-memory
    // catalog is gone) fails managed-table creation — clear both
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    bucketWriter(df, table, key, buckets, "overwrite", hwm)
  }

  /** The ONE write recipe both the full write and the append share — the
    * zero-Exchange contract depends on every write of a table using the
    * same bucket hash, count, and sort; keeping the chain here makes a
    * future desync impossible.
    */
  private def bucketWriter(df: DataFrame, table: String, key: String,
      buckets: Int, mode: String, hwm: Long = -1L): Unit = {
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.bucketBy(buckets, key).sortBy(key)
      .mode(mode).format("parquet").saveAsTable(table)
    // manifest LAST (readers read it FIRST): every layout write path —
    // fresh write, append, the merge/compact staging tables — leaves the
    // manifest naming exactly the directory's current data files, so a
    // manifest-aware reader can never see a landing or retiring file
    val spark = df.sparkSession
    val loc = tablePath(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeManifest(fs, loc, dataFileNames(fs, loc), hwm)
  }

  private def tablePath(spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location)

  /** Collision-free per-dir tag for session-scoped layout table names —
    * md5-derived, NOT String.hashCode (32-bit hashCode collisions across
    * two data dirs would silently serve one dir's materialized layout for
    * the other).
    */
  def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Serializes every layout check-then-write/swap critical section —
    * the session-scoped layout queries' materialization
    * ([[graft.operators.Relational]]) AND [[compactBucketed]]'s
    * drop+rename swap. One shared monitor: a reader resolving a table
    * name between another thread's DROP and RENAME would get
    * table-not-found if the two sides locked different objects.
    */
  private[graft] val layoutLock = new Object

  /** Per-table monitors for the APPEND paths' read-hwm→append→manifest
    * sequence (r18 review): that critical section spans the batch's whole
    * Spark write job, and holding the global [[layoutLock]] across it
    * would stall every layout query and swap in the session for the data
    * job's duration, on unrelated tables. Appends to one table serialize
    * with each other; merge/compact (global lock) additionally require
    * the table's append stream QUIESCED — the single-writer contract
    * their scaladocs already state.
    */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def tableLock(table: String): Object =
    // the session catalog resolves table names case-insensitively, so two
    // spellings of one table must take ONE monitor — same class as the
    // dir-key normalization in [[dirLock]] (r18 ADVICE)
    tableLocks.computeIfAbsent(
      if (table.startsWith("dir:")) table else table.toLowerCase, _ => new Object)

  /** Per-DIRECTORY monitor, keyed by the fully-qualified path (r18 ADVICE:
    * the raw string keyed two spellings of one directory — trailing slash,
    * relative vs absolute — to different monitors, silently voiding the
    * in-session serialization between a swap and a concurrent swap's
    * crash-heal preamble).
    */
  private def dirLock(spark: SparkSession, dir: String): Object = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val q = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
    tableLock("dir:" + q.toString)
  }

  /** CROSS-PROCESS writer lease — best-effort mutual exclusion on the
    * location itself (r19). The monitors above serialize mutators within
    * one session, but the single-writer contract across PROCESSES was
    * documentation only: two drivers merging one table could interleave
    * mid-sequence and corrupt it silently (the no-transaction-log price,
    * restated on every maintenance scaladoc). The lease turns that
    * contract into an enforced check: a `_writer.lock` file created
    * ATOMICALLY at the location (`create` with overwrite = false —
    * atomic on local filesystems and HDFS; an object store without
    * atomic create keeps the documented contract and nothing regresses),
    * deleted on release. A crashed writer leaves the file behind; a
    * later writer BREAKS it once its mtime ages past [[leaseStaleMs]]
    * (default 15 min — longer than any single maintenance pass here) and
    * takes over. Best-effort by design: clock skew or a >staleMs pause
    * can still double-grant (the residual class of every lease without
    * fencing tokens) — the upgrade over documentation is that the COMMON
    * failure, two live writers, now fails loudly instead of corrupting
    * silently. RE-ENTRANT per session: nested maintenance (forgetKeys →
    * mergeBucketed, maintainAdditiveBatch → maintainAdditive →
    * mergeBucketed, erasure inside an ingest cadence) re-enters the held
    * lease rather than self-deadlocking — safe because the in-session
    * monitors already serialize same-location mutators, so only one
    * thread is ever inside a location's lease scope.
    *
    * Invisible everywhere by the underscore convention: scans, manifests,
    * `relDataFiles` walks, vacuum's sweepable set, and the erasure purges
    * all skip `_`-prefixed names.
    */
  private[graft] var leaseStaleMs: Long = 15 * 60 * 1000L
  private val heldLeases =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def withWriterLease[T](spark: SparkSession,
      loc: org.apache.hadoop.fs.Path)(f: => T): T = {
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(loc).toString
    if (heldLeases.contains(key)) return f // nested maintenance, same session
    val lock = new org.apache.hadoop.fs.Path(loc, "_writer.lock")
    def tryAcquire(): Boolean =
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      val age = try Some(System.currentTimeMillis()
        - fs.getFileStatus(lock).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None } // raced a release
      val stale = age.forall(_ > leaseStaleMs)
      if (stale) {
        try fs.delete(lock, false) catch { case _: java.io.FileNotFoundException => }
        if (!tryAcquire())
          throw new IllegalStateException(s"writer lease on $key: lost the " +
            "takeover race for a stale lock — another writer is active; retry")
      } else throw new IllegalStateException(s"another writer holds the lease " +
        s"on $key (age ${age.getOrElse(0L)} ms < stale threshold $leaseStaleMs ms) — " +
        "the layout layer is single-writer per location; quiesce the other " +
        "writer or let a crashed one's lock age out")
    }
    heldLeases.add(key)
    try f finally {
      heldLeases.remove(key)
      try fs.delete(lock, false) catch { case _: Exception => () }
    }
  }

  // memoized fingerprints: paths-key -> (expiry millis, fp). The listing +
  // per-file tail sample is driver-side O(#files); without a memo every
  // layout query pays it on every call.
  private val fpCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** Drop all memoized source fingerprints — for callers that just rewrote
    * a source dir and need the next layout query to see it before the TTL
    * lapses (and for specs exercising in-place regeneration).
    */
  def invalidateFingerprints(): Unit = fpCache.clear()

  /** Cheap driver-side fingerprint of the SOURCE data under `paths`: file
    * names + lengths + mtimes + an md5 of each file's LAST ≤256 bytes (for
    * parquet that's inside the footer — column min/max stats, so it is
    * content-dependent). Folded into the memo tag of the session-scoped
    * layout queries so a dir whose data is regenerated IN PLACE
    * mid-session gets a fresh materialization instead of silently serving
    * the stale bucketed/z-ordered copy while the oracle reads the new
    * source. The tail sample is what catches the object-store corner
    * mtimes can't: a store reporting coarse or zero mtimes serving a
    * same-size regeneration (ADVICE r14). Results are memoized for
    * `spark.graft.layout.fingerprintTtlMs` (default 10 s, ≤0 disables) so
    * repeated layout queries don't re-pay the listing; staleness is
    * bounded by the TTL, and [[invalidateFingerprints]] is the immediate
    * override.
    */
  def sourceFingerprint(spark: SparkSession, paths: String*): String = {
    val key = paths.sorted.mkString("")
    val ttl = spark.conf.get("spark.graft.layout.fingerprintTtlMs", "10000").toLong
    val now = System.currentTimeMillis()
    val hit = fpCache.get(key)
    if (hit != null && ttl > 0 && now < hit._1) return hit._2
    val md = java.security.MessageDigest.getInstance("MD5")
    // full path + sorted order: FS listing order is not guaranteed (raw
    // readdir), and basenames alone can't tell same-named part files in
    // different subdirs apart — either would let an unchanged dir produce
    // a different tag and silently re-materialize the layout
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    paths.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(hp, true)
      while (it.hasNext) {
        val f = it.next()
        val sample = new Array[Byte](math.min(256L, f.getLen).toInt)
        if (sample.length > 0) {
          val in = fs.open(f.getPath)
          try { in.seek(f.getLen - sample.length); in.readFully(sample) }
          finally in.close()
        }
        val sh = java.security.MessageDigest.getInstance("MD5")
          .digest(sample).take(4).map("%02x".format(_)).mkString
        entries += s"${f.getPath}:${f.getLen}:${f.getModificationTime}:$sh;"
      }
    }
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    val fp = md.digest().take(8).map("%02x".format(_)).mkString
    if (ttl > 0) fpCache.put(key, (now + ttl, fp))
    fp
  }

  /** Total on-disk bytes under `paths` — one content-summary call per
    * path, driver-side, no Spark job.
    */
  def inputBytes(spark: SparkSession, paths: String*): Long =
    paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(hp).getLength
    }.sum

  /** Corpus-derived bucket count: actual input bytes over a target
    * per-bucket size, floored, rounded UP to a power of two. Sizing from
    * bytes is the rule the rest of the repo already follows (semDedup's
    * corpus-derived cell count, [[compact]]'s partition count) — a pinned
    * constant is a toy at one SF and a scale-killer at another (8 buckets
    * over 100 TB = 12.5 TB per bucket task). Power-of-two so a future
    * re-bucketing at 2× splits every Murmur3 bucket `h % B` into exactly
    * two of `h % 2B` — bounded re-cluster cost — and so slow corpus growth
    * doesn't thrash the count between adjacent integers. The 128 MB target
    * matches [[compact]]'s file sizing; on the in-repo ladder it derives
    * 8 (floor) at sf0.01/sf1 and 16 at sf10, ~800k buckets at 100 TB.
    */
  def deriveBuckets(spark: SparkSession, paths: Seq[String],
      targetBucketBytes: Long = 128L * 1024 * 1024, floor: Int = 8): Int = {
    val raw = math.max(floor.toLong,
      math.ceil(inputBytes(spark, paths: _*).toDouble / targetBucketBytes).toLong)
    require(raw <= (1L << 30), s"derived bucket count $raw is implausible")
    var p = 1
    while (p < raw) p <<= 1
    p
  }

  /** Append an ingest batch into an existing bucketed table WITHOUT
    * rewriting it — the daily-ingest maintenance path for a 100 TB
    * bucketed fact table (the [[graft.operators.AnnIndex.append]] economics
    * applied to storage): the batch pays its own bucket shuffle, lands as
    * one new file per bucket, and every later join/group-by on the key
    * keeps the ZERO-Exchange plan (Spark unions the per-write files of a
    * bucket into that bucket's scan partition; LayoutSpec pins it). Cost is
    * O(batch); the base table's files are untouched. Periodic
    * [[writeBucketed]] re-writes (or [[compact]]) bound the
    * files-per-bucket growth of a long append cadence.
    */
  def appendBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = { land(df, table, key, buckets, batchId = None); () }

  /** Move root-relative data files into the `dirName` retirement dir
    * under `root`, preserving any subdir structure (partition values live
    * in dir names). ALWAYS additive (r19): retirement dirs are
    * PER-GENERATION (`_pre_merge/g<gen>` / `_pre_swap/g<gen>`), retained
    * until [[vacuum]] ages them out — the Delta discipline, and what
    * makes [[readDirAt]]'s pin depth literally equal the retention
    * policy. Within one generation dir, additive is also the crash rule:
    * the rels may be the un-moved HALF of the same event whose other
    * half already sits there (r18 review). The one retire recipe all
    * retirement sites share, including the parking of data files no
    * manifest names (a crashed delivery or merge).
    */
  private def retireTo(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, dirName: String,
      rels: Iterable[String]): Unit =
    moveRels(fs, root, new org.apache.hadoop.fs.Path(root, dirName), rels, "retiring")

  /** Move `from`/rel to `to`/rel for each rel — the ONE move loop behind
    * every move-in and retirement. rename() reports failure as `false`,
    * not an exception, so every move is checked.
    */
  private def moveRels(fs: org.apache.hadoop.fs.FileSystem,
      from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path,
      rels: Iterable[String], op: String): Unit =
    rels.foreach { rel =>
      val dst = new org.apache.hadoop.fs.Path(to, rel)
      fs.mkdirs(dst.getParent)
      require(fs.rename(new org.apache.hadoop.fs.Path(from, rel), dst),
        s"$op: rename $rel from $from to $to failed")
    }

  /** Move a staged write's data files into `root`; returns their rels. */
  private def moveIn(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, root: org.apache.hadoop.fs.Path,
      op: String): Seq[String] = {
    val fresh = relDataFiles(fs, tmp)
    moveRels(fs, tmp, root, fresh, op)
    fresh
  }

  /** Delete the fully-empty partition dirs a swap or an erasure left
    * under `root`, bottom-up (stale `col=value` entries cost listings).
    */
  private def pruneEmptyDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    fs.listStatus(root).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && !n.startsWith("_") && !n.startsWith(".")) {
        pruneEmptyDirs(fs, s.getPath)
        if (fs.listStatus(s.getPath).isEmpty) fs.delete(s.getPath, false)
      }
    }

  /** EXACTLY-ONCE [[appendBucketed]] for a Structured Streaming
    * `foreachBatch` cadence (the B12→B10 ingest front door): Spark
    * re-delivers a micro-batch after a checkpoint restart, and a plain
    * append would land it twice — the one silent-duplication path D20's
    * [[graft.streaming.IdempotentSink]] closes for flat landings, closed
    * here for bucketed tables. Returns true iff this call appended.
    *
    * Mechanics — the batch-id HIGH-WATER MARK rides the manifest
    * ([[writeManifest]]), so "did id N land" and "which files are live"
    * are one atomic fact: a `batchId ≤ hwm` delivery is a no-op (manifest
    * untouched — same generation, zero writes); otherwise the batch
    * appends through the shared [[bucketWriter]] recipe and the manifest
    * it writes LAST records `hwm = batchId`. A delivery that crashed
    * BETWEEN its parquet job commit and its manifest write leaves
    * committed data files the manifest does not name — manifest-aware
    * readers never saw them, and the id's re-delivery retires them to
    * `_pre_merge` BEFORE re-appending (blessing the raw listing would
    * bake the crashed delivery's rows in as duplicates). Batch ids are
    * monotone per streaming checkpoint, which is what makes one mark
    * sufficient — pointing a NEW checkpoint (ids restarting at 0) at a
    * table that already ingested is rejected loudly below rather than
    * silently dropping every batch up to the old mark.
    *
    * Cost per micro-batch: the batch's own bucket shuffle (data cost —
    * independent of table history) plus driver-side metadata work that is
    * O(live files): two directory listings and a manifest generation
    * naming the full live set — inherent to a manifest that must name
    * every file, bounded in practice by the [[compactBucketed]] cadence
    * that re-bounds files-per-bucket anyway. Same single-writer contract
    * as every layout maintenance pass: one append stream per table, with
    * the PER-TABLE lock serializing in-session appends against each other
    * and against merge/compact (which take it too) — global layout work
    * on other tables is never stalled by a micro-batch's data write.
    */
  def appendBucketedBatch(df: DataFrame, table: String, key: String,
      buckets: Int, batchId: Long): Boolean =
    land(df, table, key, buckets, Some(batchId))

  /** The ONE landing path of [[appendBucketed]] (`batchId` None) and
    * [[appendBucketedBatch]]: an ad-hoc landing carries the hwm forward,
    * a batch landing passes [[batchApplied]] and stamps its id. Returns
    * true iff it appended.
    */
  private def land(df: DataFrame, table: String, key: String, buckets: Int,
      batchId: Option[Long]): Boolean = tableLock(table).synchronized {
    val op = if (batchId.isEmpty) "appendBucketed" else "appendBucketedBatch"
    // the contract is append into an EXISTING bucketed table; a typo'd or
    // not-yet-created name would otherwise silently fork a one-batch table
    // that later joins read as if it were the full fact table
    val spark = df.sparkSession
    require(spark.catalog.tableExists(table),
      s"$op target '$table' does not exist — create it with writeBucketed first")
    batchId.foreach(id =>
      require(id >= 0, s"$op needs a streaming batch id, got $id"))
    val loc = tablePath(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLease(spark, loc) {
      // an ad-hoc append must not reset the ingest hwm — that would reopen
      // the exactly-once window for a restarting append stream — and it
      // must not BLESS a crashed delivery's unmanifested files either (r18
      // review): bucketWriter's manifest is the raw listing, so without
      // the orphan retirement below, an ad-hoc append between a delivery's
      // crash and the stream's restart would manifest the crashed files
      // and the id's re-delivery would land the batch twice. The table's
      // lock serializes this read-hwm→append→manifest sequence against a
      // live ingestSink and against merge/compact (which take it too) — an
      // unserialized interleave could write back a STALE hwm and reopen
      // the window it just preserved.
      val (gen, priorFiles, hwm) = readManifest(fs, loc)
        .getOrElse((0L, dataFileNames(fs, loc), -1L))
      if (batchId.exists(id => batchApplied(op, table, id, hwm))) false
      else {
        // retire a crashed delivery's unmanifested files before appending
        retireTo(fs, loc, Manifest.preMerge(gen), dataFileNames(fs, loc) -- priorFiles)
        bucketWriter(df, table, key, buckets, "append", batchId.getOrElse(hwm))
        true
      }
    }
  }

  /** The ONE batch-id high-water-mark gate [[appendBucketedBatch]] and
    * [[maintainAdditiveBatch]] share: true when `batchId` is at or below
    * the manifest's ingest `hwm` — the caller no-ops.
    *
    * Ids at or below the mark are no-ops: the restart re-delivery
    * (batchId == hwm) and the backup/DR-restored checkpoint of the SAME
    * stream replaying 0 < batchId < hwm on its way back to the mark (its
    * WAL re-delivers byte-identical batches — a loud reject here would
    * wedge that legitimate catch-up in a crash loop, r18 review). The one
    * id that cannot be a same-stream replay is 0 against a positive mark:
    * every FRESH checkpoint starts there, and no-opping it would silently
    * drop the new stream's batches up to the mark — reject loudly.
    * Irreducible blind spot: at hwm == 0 a new checkpoint's batch 0 is
    * indistinguishable from the legitimate re-delivery of batch 0 and is
    * treated as the latter (only reachable on a one-batch table).
    */
  private def batchApplied(op: String, table: String, batchId: Long,
      hwm: Long): Boolean = {
    if (batchId <= hwm)
      require(batchId > 0 || hwm <= 0,
        s"$op got batch id 0 but '$table' has ingest hwm $hwm — " +
          "a fresh checkpoint must target a fresh table (or carry the old checkpoint)")
    batchId <= hwm
  }

  /** The `foreachBatch` form of [[appendBucketedBatch]]:
    * `.writeStream.foreachBatch(Layout.ingestSink(table, key, buckets))`
    * — the exactly-once streaming→bucketed front door.
    */
  def ingestSink(table: String, key: String, buckets: Int): (DataFrame, Long) => Unit =
    (batch, id) => { appendBucketedBatch(batch, table, key, buckets, id); () }

  /** Write partitioned by low-cardinality columns: `dir/col=value/...`
    * layout; equality/IN filters on those columns prune whole directories
    * at planning time (visible as PartitionFilters in the scan).
    *
    * STAGED, not in-place (r17 ADVICE — the last unmanaged overwrite
    * window): a plain `mode("overwrite")` deletes the directory first, so
    * a reader racing the rewrite sees a partial table or nothing. Here
    * the new layout lands whole under a hidden sibling, its files move
    * in, the manifest flips, and the old files retire to `_pre_swap` —
    * a [[readDir]] reader pins pre- or post-swap, never partial
    * (the B13 contract extended to plain directories).
    */
  def writePartitioned(df: DataFrame, dir: String, cols: String*): Unit =
    stagedSwap(df.sparkSession, dir,
      tmp => df.write.partitionBy(cols: _*).mode("overwrite").parquet(tmp))

  /** Recursive data-file listing under `root` as root-relative paths,
    * skipping hidden/underscore path components (staging dirs, manifests,
    * `_pre_swap`, `_SUCCESS`) — the partitioned-layout twin of
    * [[dataFileNames]] (whose flat listing would miss `col=value/` files).
    */
  private def relDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] =
    relDataFilesWithLen(fs, root).map(_._1)

  /** [[relDataFiles]] carrying each file's length from the same listing —
    * callers that need sizes must not re-stat every file (r18 review:
    * compact's per-file getFileStatus was one extra RPC per live file on
    * exactly the many-tiny-files input compact exists for).
    */
  private def relDataFilesWithLen(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    // qualify like listStatus qualifies its results, or the prefix strip
    // silently fails for a relative/unqualified root
    val base = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (s.isDirectory) walk(s.getPath)
        else Seq((s.getPath.toUri.getPath.stripPrefix(base), s.getLen))
      }
    if (fs.exists(root)) walk(root) else Seq.empty
  }

  /** Atomic-at-the-reader overwrite of a plain parquet directory: `write`
    * produces the replacement layout under a hidden staging sibling, then
    * new files move into `dir` (part names carry the job uuid — no
    * collisions with the old set), the manifest flips to name exactly the
    * new files, and the old files retire WHOLE to
    * `dir/_pre_swap/g<superseded gen>` (underscore-prefixed, invisible to
    * scans; retained per generation until [[vacuum]] ages it out, so
    * every overwrite back to the retention horizon stays hand-recoverable
    * AND [[readDirAt]]-pinnable; partition subdirectory structure is
    * preserved because partitionBy strips those values from the file
    * bytes). A [[readDir]] reader resolves the manifest first
    * and sees the pre- or post-swap table, never a partial one; a raw
    * `spark.read.parquet` reader can transiently see the old+new union
    * between move-in and retirement — the same bounded-visibility
    * contract as [[mergeBucketed]]. SINGLE-WRITER per directory: the
    * per-dir lock serializes in-session swaps (r18 review — a concurrent
    * swap's crash-heal preamble would otherwise delete this swap's live
    * staging mid-write); cross-process concurrent swaps on one dir are
    * excluded by contract, as everywhere in this layer.
    */
  private def stagedSwap(spark: SparkSession, dir: String,
      write: String => Unit): Unit = dirLock(spark, dir).synchronized {
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dst)
    withWriterLease(spark, dst) {
    // self-heal a CRASHED previous swap before writing (r18 review —
    // nothing else ever would): stale `.swap-*` staging dirs (a crash
    // mid-write skipped the finally) are deleted, and data files the
    // manifest does not name (a crash between move-in and retirement —
    // the window where a RAW reader sees the old+new union; readDir
    // never does) retire under the current generation's `_pre_swap/g<gen>`
    // ADDITIVELY — they may be the un-retired half of the same crashed
    // event whose other half is already parked. Until some later swap
    // runs, that union is the documented raw-reader residual of a
    // crashed swap.
    fs.listStatus(dst).filter(s => s.isDirectory
        && s.getPath.getName.startsWith(".swap-"))
      .foreach(s => fs.delete(s.getPath, true))
    val genBefore = readManifest(fs, dst) match {
      case Some((gen, valid, _)) =>
        retireTo(fs, dst, Manifest.preSwap(gen),
          relDataFiles(fs, dst)
            .filter(rel => !valid.contains(new org.apache.hadoop.fs.Path(rel).getName)))
        gen
      case None => 0L
    }
    val tmp = new org.apache.hadoop.fs.Path(dst,
      s".swap-${java.util.UUID.randomUUID()}")
    try {
      write(tmp.toString)
      val prior = relDataFiles(fs, dst)
      val fresh = moveIn(fs, tmp, dst, "stagedSwap")
      // manifest names BASENAMES (job-uuid part names are unique across
      // writes, including inside partition subdirs) — flips the readDir
      // view to the new set in one atomic rename
      writeManifest(fs, dst,
        fresh.map(rel => new org.apache.hadoop.fs.Path(rel).getName))
      // the superseded file set retires under ITS generation's dir —
      // retained for readDirAt pins until vacuum ages it out (r19: pin
      // depth IS the retention policy, the Delta discipline)
      retireTo(fs, dst, Manifest.preSwap(genBefore), prior)
      if (prior.nonEmpty) pruneEmptyDirs(fs, dst)
    } finally if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** Manifest-aware read of a plain parquet DIRECTORY — [[readTable]] for
    * paths: when a [[stagedSwap]] writer (writePartitioned, zorderWrite)
    * manages `dir`, the manifest pins the reader to the pre- or post-swap
    * file set, never a partial or union view; a manifest-less directory
    * reads as plain `spark.read.parquet`. Same fast path (quiescent
    * listing == manifest → no per-row filter) and the same
    * generation-stability retry as readTable; path-based reads plan over
    * a fresh listing, so no catalog refresh is needed.
    */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestRead(fs, root,
      plan = _ => spark.read.parquet(dir),
      list = () => relDataFiles(fs, root)
        .map(rel => new org.apache.hadoop.fs.Path(rel).getName).toSet,
      exhausted = valid => fileNameFiltered(spark.read.parquet(dir), valid))
  }

  /** The ONE manifest-pinned read state machine [[readTable]] and
    * [[readDir]] share (r18 review — two hand-kept copies of the
    * generation-stability retry would silently diverge at the next fix):
    * read manifest (gen0) → `plan` → `list` the present data files →
    * re-read the manifest; a stable generation serves the plan (filtered
    * to the manifest set unless the listing already equals it), a moved
    * generation retries, and exhaustion (sustained swaps — excluded by
    * the single-writer contract) re-plans via `exhausted`, NEVER serving
    * the pre-swap plan. `plan` receives whether a manifest governs the
    * source (true everywhere except the manifest-less fallback) — the
    * hook where readTable refreshes its cached catalog listing; path
    * reads list fresh per plan and ignore it.
    */
  private def manifestRead(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path, plan: Boolean => DataFrame,
      list: () => Set[String], exhausted: Set[String] => DataFrame): DataFrame = {
    def attempt(retries: Int): DataFrame =
      readManifest(fs, loc) match {
        case None => plan(false)
        case Some((gen0, _, _)) =>
          val t = plan(true)
          val present = list()
          // the POST-listing manifest is the authority; a generation that
          // moved during the listing retries
          readManifest(fs, loc) match {
            case Some((gen, valid, _)) if gen == gen0 =>
              if (present == valid) t else fileNameFiltered(t, valid)
            case Some(_) if retries > 0 => attempt(retries - 1)
            case Some((_, valid, _)) => exhausted(valid)
            case None => plan(false)
          }
      }
    attempt(retries = 3)
  }

  /** Read a layout-managed table through its MANIFEST when one exists.
    *
    * The manifest (a [[Manifest]] generation, written LAST by every layout
    * writer, read FIRST here) is the one-file answer to the swap windows
    * [[mergeBucketed]]/[[compactBucketed]] document: their file moves are
    * one-at-a-time, so a reader in another process listing the directory
    * mid-swap can see a key TWICE (old + new file both present). The
    * manifest names the exact valid file set; a reader that filters to it
    * sees either the pre-swap or the post-swap table, never the union —
    * atomic at the reader without a transaction log (generation files
    * rename in whole; the highest gen visible at list time is always a
    * complete, consistent set).
    *
    * Fast path: when the directory's data files already equal the
    * manifest set (every quiescent moment — i.e. always, outside a
    * concurrent swap), this is exactly `spark.table` — no per-row work,
    * and the bucketed scan's zero-Exchange contract is untouched. Only a
    * reader racing a swap pays the `input_file_name()` filter, and a
    * Filter preserves the bucketed scan's output partitioning, so even
    * that plan keeps co-location. Tables with no manifest (pre-manifest
    * layouts, foreign tables) read as plain `spark.table`.
    *
    * A manifest-governed table is ALWAYS refreshed first (r17 review):
    * the session catalog caches the table's file listing across
    * `spark.table` calls, so without the refresh a reader whose session
    * saw the table before an EXTERNAL writer's swap would plan over the
    * stale listing — missing every moved-in file (silent row loss behind
    * the filter) or referencing retired ones (FileNotFound at exec).
    * And the manifest is re-read AFTER the refresh+listing with a
    * generation-stability retry (r17 review, second pass): a swap
    * completing between the manifest read and the listing would
    * otherwise filter post-swap files down to retired pre-swap names —
    * affected buckets reading EMPTY, neither of the two legal views.
    * Cost is a handful of directory metadata ops per readTable call,
    * nothing at scan time. Residual window, documented: the guarantee
    * covers swaps that complete before the query's scan lists the
    * directory; a swap racing the EXECUTION of an already-planned query
    * is the same hazard any non-transactional file reader has (retired
    * files stay recoverable under `_pre_merge` either way).
    */
  def readTable(spark: SparkSession, table: String): DataFrame = {
    val loc = tablePath(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestRead(fs, loc,
      plan = governed => {
        // a manifest-governed table is ALWAYS refreshed first (r17
        // review): the session catalog caches the file listing, so a
        // reader whose session saw the table before an EXTERNAL writer's
        // swap would otherwise plan over the stale listing — missing
        // moved-in files (silent row loss behind the filter) or
        // referencing retired ones (FileNotFound at exec)
        if (governed) spark.catalog.refreshTable(table)
        spark.table(table)
      },
      list = () => dataFileNames(fs, loc),
      exhausted = valid => manifestView(spark, table, valid))
  }

  private def fileNameFiltered(t: DataFrame, valid: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    t.where(element_at(split(input_file_name(), "/"), -1)
      .isin(valid.toSeq: _*))
  }

  /** The readTable exhaustion fallback, separately pinned (r17 review —
    * the branch is unreachable without a mid-call swap, so it gets its
    * own unit): re-plan `table` over a freshly-refreshed listing and
    * constrain the scan to exactly `valid` — never the pre-swap plan,
    * never rows from files outside the given manifest set.
    */
  private[graft] def manifestView(spark: SparkSession, table: String,
      valid: Set[String]): DataFrame = {
    spark.catalog.refreshTable(table)
    fileNameFiltered(spark.table(table), valid)
  }

  /** The flat data files at `loc` (hidden and underscore names skipped). */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(loc).filter(s => s.isFile && !s.getPath.getName.startsWith("_")
      && !s.getPath.getName.startsWith("."))

  private def dataFileNames(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path): Set[String] =
    listDataFiles(fs, loc).map(_.getPath.getName).toSet

  /** The ONE manifest codec. Every decision about the on-disk version log
    * lives here, so the writer and every reader and sweeper agree by
    * construction: the generation file name (`_manifest-<gen>.json`),
    * generation listing and parsing, the `{"gen","hwm","files"}` body
    * (written and read), and the per-generation retirement dirs
    * (`_pre_merge/g<N>`, `_pre_swap/g<N>`) superseded files park in.
    */
  private object Manifest {
    private val nameRe = java.util.regex.Pattern.compile("^_manifest-(\\d+)\\.json$")
    private val filesRe = java.util.regex.Pattern
      .compile("\"files\":\\[(.*)\\]", java.util.regex.Pattern.DOTALL)
    private val quotedRe = java.util.regex.Pattern.compile("\"([^\"]*)\"")
    private val hwmRe = java.util.regex.Pattern.compile("\"hwm\":(-?\\d+)")

    def path(loc: org.apache.hadoop.fs.Path, gen: Long): org.apache.hadoop.fs.Path =
      new org.apache.hadoop.fs.Path(loc, s"_manifest-$gen.json")

    /** The generation a file name encodes; None for any other name. */
    def genOf(name: String): Option[Long] = {
      val m = nameRe.matcher(name)
      if (m.matches()) Some(m.group(1).toLong) else None
    }

    /** Generations retained at `loc`, ascending. */
    def gens(fs: org.apache.hadoop.fs.FileSystem,
        loc: org.apache.hadoop.fs.Path): Seq[Long] =
      fs.listStatus(loc).toSeq.flatMap(s => genOf(s.getPath.getName)).sorted

    /** See [[writeManifest]]. */
    def write(fs: org.apache.hadoop.fs.FileSystem, loc: org.apache.hadoop.fs.Path,
        names: Iterable[String], hwm: Long): Unit = {
      val gen = gens(fs, loc).lastOption.getOrElse(0L) + 1
      // the parse below is a symmetric quoted-string scan, not a JSON
      // parser — a name that would need escaping must fail loudly rather
      // than round-trip corrupted (no Spark-written file ever contains
      // these characters)
      names.foreach(n => require(!n.contains("\"") && !n.contains("\\"),
        s"manifest cannot serialize file name '$n'"))
      val json = names.toSeq.sorted
        .map(n => "\"" + n + "\"")
        .mkString(s"""{"gen":$gen,"hwm":$hwm,"files":[""", ",", "]}")
      val tmp = new org.apache.hadoop.fs.Path(loc, s"._manifest-$gen.tmp")
      val out = fs.create(tmp, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
      require(fs.rename(tmp, path(loc, gen)), s"manifest rename failed in $loc")
    }

    /** Generation `gen`'s (file set, ingest hwm); a pre-hwm body (older
      * layout version) parses as hwm −1, "no batch ever committed".
      */
    def read(fs: org.apache.hadoop.fs.FileSystem, loc: org.apache.hadoop.fs.Path,
        gen: Long): (Set[String], Long) = {
      val p = path(loc, gen)
      val in = fs.open(p)
      val body = try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toString("UTF-8")
      } finally in.close()
      // symmetric with write: every quoted string inside the files array,
      // whatever its suffix — a .parquet-only pattern would silently drop
      // any differently-named data file from every read (r17 review)
      val arr = filesRe.matcher(body)
      require(arr.find(), s"malformed manifest ${p.getName}")
      val m = quotedRe.matcher(arr.group(1))
      val names = Set.newBuilder[String]
      while (m.find()) names += m.group(1)
      val hm = hwmRe.matcher(body)
      (names.result(), if (hm.find()) hm.group(1).toLong else -1L)
    }

    private val preMergeRoot = "_pre_merge"
    private val preSwapRoot = "_pre_swap"
    /** The retirement roots, each holding one `g<N>` dir per generation. */
    val retirementRoots: Seq[String] = Seq(preMergeRoot, preSwapRoot)
    def preMerge(gen: Long): String = s"$preMergeRoot/g$gen"
    def preSwap(gen: Long): String = s"$preSwapRoot/g$gen"
    def isGenDir(name: String): Boolean = name.matches("g\\d+")
    /** A retirement-root-relative path inside some `g<N>` dir. */
    def inGenDir(rel: String): Boolean = rel.matches("g\\d+/.*")
  }

  /** Replace the table's manifest with `names` at the next generation:
    * write generation gen+1 via a hidden temp + atomic rename —
    * at every instant a lister sees ≥1 complete manifest, and the highest
    * gen is always whole. Older generations are RETAINED (r19): they are
    * the version log [[readTableAt]]/[[readDirAt]] pin against — a few
    * hundred bytes each, reclaimed by [[vacuum]] past the retention
    * (readers of the CURRENT state always take the highest gen, so
    * retention never changes what [[readTable]]/[[readDir]] serve).
    *
    * `hwm` is the table's INGEST high-water mark — the largest streaming
    * batch id [[appendBucketedBatch]] has committed (−1 = none). Riding
    * the manifest makes "which batches landed" atomic with "which files
    * are live": the two can never disagree, and every maintenance pass
    * that rewrites the manifest (merge, compact) carries the mark forward
    * for free.
    */
  private[graft] def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path, names: Iterable[String],
      hwm: Long = -1L): Unit =
    Manifest.write(fs, loc, names, hwm)

  /** Highest-generation manifest as (gen, file set, ingest hwm); None when
    * the table carries no manifest. A generation deleted between the
    * listing and the read (a writer finishing its swap) is retried against
    * a fresh listing.
    */
  private[graft] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path): Option[(Long, Set[String], Long)] = {
    def attempt(): Option[(Long, Set[String], Long)] =
      Manifest.gens(fs, loc).lastOption.map { gen =>
        val (names, hwm) = Manifest.read(fs, loc, gen)
        (gen, names, hwm)
      }
    try attempt()
    catch { case _: java.io.FileNotFoundException => try attempt() catch {
      case _: java.io.FileNotFoundException => None } }
  }

  /** Manifest generations retained at a layout-managed directory,
    * ascending — the version log a caller picks a [[readDirAt]] pin from.
    */
  def generations(spark: SparkSession, dir: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty else Manifest.gens(fs, root)
  }

  /** [[generations]] for a catalog table. */
  def tableGenerations(spark: SparkSession, table: String): Seq[Long] =
    generations(spark, tablePath(spark, table).toString)

  /** Read manifest generation `gen` exactly — loud on a missing or
    * vacuumed generation (never a silent fallback to another gen).
    */
  private def readManifestGen(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path, gen: Long): Set[String] = {
    if (!fs.exists(Manifest.path(loc, gen)))
      sys.error(s"generation $gen is not retained at $loc (vacuumed or " +
        s"never written); retained generations: " +
        Manifest.gens(fs, loc).mkString("[", ",", "]"))
    Manifest.read(fs, loc, gen)._1
  }

  /** GENERATION-PINNED read (time travel — Delta `VERSION AS OF` for this
    * layer): the exact file set manifest generation `gen` named, wherever
    * those files now live — the live directory, or the `_pre_merge` /
    * `_pre_swap` retirement dirs a later maintenance pass moved them to.
    * This is the reproducibility surface a training pipeline needs across
    * a live CDC cadence: "epoch N+1 reads the exact rows epoch N saw"
    * holds even after merges, compactions, and staged swaps, as long as
    * the retention policy keeps the generation's bytes: every
    * maintenance pass retires its superseded files under a
    * PER-GENERATION `_pre_merge/g<N>` / `_pre_swap/g<N>` dir, retained
    * until [[vacuum]] ages that generation out — pin depth IS the
    * retention policy, literally (the Delta discipline: run vacuum with
    * a retention longer than your longest epoch).
    *
    * LOUD-OR-EXACT contract: a generation whose manifest or any named
    * file is gone (vacuumed, superseded twice, erased by [[forgetKeys]])
    * fails with the missing names — NEVER a partial or silently-
    * substituted view; a partial epoch would corrupt a training run
    * invisibly. Plans as a plain parquet scan over the resolved files
    * (with `basePath` per residence so `col=value` partition columns
    * survive): a pinned read is a correctness/reproducibility surface,
    * not the serving path — the CURRENT generation keeps [[readTable]]'s
    * zero-Exchange bucketed scan. Residual caveat, shared with every
    * non-transactional file reader here: a maintenance pass racing the
    * pinned read's EXECUTION can move a resolved file (FileNotFound at
    * exec, never wrong rows); pin depth outlives it by re-running.
    */
  def readDirAt(spark: SparkSession, dir: String, gen: Long): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resolution holds the dir lock (metadata-only, cheap): an IN-SESSION
    // maintenance pass moving a file between the live walk and the
    // retirement walk would otherwise list the SAME file in two
    // residences — a duplicated row in a "byte-identical" pinned read
    val (wanted, hits, found) = dirLock(spark, dir).synchronized {
      val wanted = readManifestGen(fs, root, gen)
      // residences: live dir first, then the retirement dirs a later
      // maintenance pass may have moved the generation's files to — each
      // per-generation `g<N>` subdir is its OWN residence (its own
      // basePath, so `col=value` components under it parse as partition
      // columns, never the gN component itself); the bare retirement
      // root remains a residence for pre-r19 flat retirements, with gN
      // subtrees excluded from its walk to avoid double-listing
      val retRoots = Manifest.retirementRoots
        .map(new org.apache.hadoop.fs.Path(root, _))
      val genDirs = retRoots.flatMap { r =>
        if (!fs.exists(r)) Seq.empty
        else fs.listStatus(r).filter(s => s.isDirectory
          && Manifest.isGenDir(s.getPath.getName)).map(_.getPath).toSeq
      }
      val residences = Seq(root) ++ retRoots ++ genDirs
      def ownRels(r: org.apache.hadoop.fs.Path): Seq[String] = {
        val rels = relDataFiles(fs, r)
        if (retRoots.contains(r)) rels.filterNot(Manifest.inGenDir) else rels
      }
      // ALL occurrences of each wanted basename, not first-wins: ONE write
      // job reuses a part name across `col=value` partition subdirs (task 0
      // writes `p=a/part-00000-<uuid>` AND `p=b/part-00000-<uuid>`), so a
      // generation's basename can legitimately stand for several files —
      // possibly split across residences after a partial maintenance pass.
      // Cross-JOB collisions can't happen (the uuid is per job), so every
      // occurrence belongs to the pinned generation. Dedupe by REL path:
      // the same rel in two residences is one file seen mid-move by a
      // cross-process writer (same-rel-different-content is impossible —
      // fresh writes carry fresh uuids) — read it once, live copy first.
      val hits = scala.collection.mutable.ArrayBuffer.empty[(org.apache.hadoop.fs.Path, String)]
      val found = scala.collection.mutable.Set.empty[String]
      val seenRel = scala.collection.mutable.Set.empty[String]
      residences.foreach { r =>
        ownRels(r).foreach { rel =>
          val n = new org.apache.hadoop.fs.Path(rel).getName
          if (wanted.contains(n) && seenRel.add(rel)) { hits += ((r, rel)); found += n }
        }
      }
      (wanted, hits, found)
    }
    val missing = wanted -- found
    require(missing.isEmpty,
      s"generation $gen of $dir is no longer fully retained — " +
        s"${missing.size} of ${wanted.size} files are gone (vacuumed or " +
        s"erased): ${missing.toSeq.sorted.take(5).mkString(", ")}" +
        (if (missing.size > 5) ", …" else ""))
    if (wanted.isEmpty)
      return spark.emptyDataFrame
    // one read per residence, each with ITS basePath so partition-dir
    // columns (col=value path components, preserved by retireTo) parse
    // identically live and retired; mergeSchema because one generation
    // can legitimately mix pre- and post-addColumn files
    val parts = hits.toSeq.groupBy(_._1).toSeq.map { case (r, files) =>
      spark.read
        .option("mergeSchema", "true")
        .option("basePath", r.toString)
        .parquet(files.map { case (_, rel) =>
          new org.apache.hadoop.fs.Path(r, rel).toString }: _*)
    }
    parts.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[readDirAt]] for a catalog table — the bucketed-table time-travel
    * read. Pinning the CURRENT generation serves [[readTable]]'s plan —
    * the manifest-pinned bucketed scan, zero-Exchange contract intact
    * (the common cadence: pin now, train on the pin while ingest
    * advances; only once a LATER write has actually moved the table does
    * the pin pay the plain-parquet historical path). NOTE: a HISTORICAL
    * pin is a plain parquet scan (the catalog describes the current
    * table, not a past generation); and [[compactBucketed]]'s
    * drop+rename rebuild RESETS the location's history (every
    * pre-compact generation becomes unreachable and fails loudly here) —
    * pin across merges and appends, not across a full rebuild.
    */
  def readTableAt(spark: SparkSession, table: String, gen: Long): DataFrame = {
    val loc = tablePath(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, loc) match {
      case Some((cur, _, _)) if cur == gen => readTable(spark, table)
      case _ => readDirAt(spark, loc.toString, gen)
    }
  }

  /** Retention maintenance for layout-managed locations — the VACUUM of
    * this layer (Delta/Iceberg's analogue, scoped to what this layer
    * actually retires): every swap/merge/crash-heal PARKS superseded
    * files under `_pre_merge`/`_pre_swap` (hand-recoverable, invisible to
    * scans) and a crashed stagedSwap can leave a `.swap-<uuid>` staging
    * dir; nothing deletes the parked bytes until the NEXT maintenance
    * pass happens to replace them. On a 100 TB table under a continuous
    * CDC cadence that is real disk; this op deletes retired files and
    * stale staging dirs whose newest mtime is older than `retentionMs`
    * and returns how many files went.
    *
    * Touches ONLY retirement/staging dirs and SUPERSEDED manifest
    * generations — never live data, never the CURRENT manifest, so
    * readers and the zero-Exchange contract are unaffected at any
    * retention. Three sweep classes:
    *   1. `_pre_merge` / `_pre_swap` (PER-GENERATION `g<N>` subdirs,
    *      each aged independently — old epochs reclaim while recent
    *      ones stay pinnable) and `.swap-*` — this layer's own
    *      retirement and staging;
    *   2. `.spark-staging-*` / `_temporary` — a CRASHED Spark write
    *      job's hidden task staging under an append/merge target (r18
    *      ADVICE: nothing else ever reclaims these, so a crash-prone
    *      continuous ingest cadence leaked disk without bound — and
    *      their task files can hold row bytes, the forgetKeys hole);
    *   3. [[Manifest]] generation files below the newest generation —
    *      retained for [[readTableAt]]/[[readDirAt]] pinned reads, and
    *      reclaimed here once older than the retention (a vacuumed
    *      generation's pinned read then fails LOUDLY, never partially).
    *
    * The retention must exceed the longest window a recovery — or a
    * pinned-generation training read — could still want the bytes (the
    * Delta VACUUM discipline; 0 reclaims everything now). AGE IS
    * STORAGE-RELATIVE (r18 verdict #7): the reference instant is the
    * location's own newest mtime — driver-clock vs storage-clock skew
    * can neither delay nor prematurely fire a sweep, because both sides
    * of the comparison come from the storage system's clock (an idle
    * location's most-recent event ages nothing, the safe direction; the
    * driver clock is only the fallback for an empty location). Holds the
    * per-dir lock so a concurrent swap's in-flight staging or
    * mid-retirement event is never swept — and that event's own fresh
    * mtime keeps it above any positive retention regardless.
    */
  def vacuum(spark: SparkSession, dir: String,
      retentionMs: Long): Long = dirLock(spark, dir).synchronized {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    withWriterLease(spark, root) {
    def newest(st: org.apache.hadoop.fs.FileStatus): Long =
      try {
        val kids = if (st.isDirectory) fs.listStatus(st.getPath)
                   else Array.empty[org.apache.hadoop.fs.FileStatus]
        (Seq(st.getModificationTime) ++ kids.map(newest)).max
      } catch { case _: java.io.FileNotFoundException => Long.MaxValue }
    def countFiles(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).map(s =>
        if (s.isDirectory) countFiles(s.getPath) else 1L).sum
    val entries = fs.listStatus(root)
    // reference instant: the location's newest OBSERVED mtime (live data,
    // manifests, retirement — one clock: the storage system's); an empty
    // location falls back to the driver clock, where nothing can sweep
    val refInstant = {
      // newest() reports Long.MaxValue for a path that vanished mid-walk —
      // the SAFE sentinel on the sweep side (never old enough to sweep),
      // but poison as the reference instant (everything would age out).
      // Our OWN just-created `_writer.lock` is excluded: its fresh mtime
      // is this process's clock, not the location's timeline — including
      // it would silently shift every age by (now − newest-data-mtime)
      // exactly when the two clocks disagree, the case the
      // storage-relative gate exists for.
      val seen = entries.filter(_.getPath.getName != "_writer.lock")
        .map(newest).filter(_ != Long.MaxValue)
      if (seen.isEmpty) System.currentTimeMillis() else seen.max
    }
    val cutoff = refInstant - retentionMs
    val latestGen = entries.flatMap(s => Manifest.genOf(s.getPath.getName))
      .foldLeft(-1L)(math.max)
    var reclaimed = 0L
    entries.foreach { s =>
      val n = s.getPath.getName
      val retirementDir = s.isDirectory && Manifest.retirementRoots.contains(n)
      val stagingDir = s.isDirectory && (n == "_temporary"
        || n.startsWith(".swap-") || n.startsWith(".spark-staging-"))
      val staleManifest = s.isFile && Manifest.genOf(n).exists(_ < latestGen)
      if (retirementDir) {
        // retirement is PER-GENERATION (g<N> subdirs): each generation
        // ages independently — old epochs reclaim while recent ones stay
        // pinnable (pin depth IS the retention). Pre-r19 flat retirements
        // age under the whole-dir rule; an emptied dir is deleted
        // unconditionally (it holds no bytes).
        fs.listStatus(s.getPath).foreach { c =>
          if (c.isDirectory && Manifest.isGenDir(c.getPath.getName)
              && newest(c) <= cutoff) {
            reclaimed += countFiles(c.getPath)
            fs.delete(c.getPath, true)
          }
        }
        if (newest(s) <= cutoff) {
          reclaimed += countFiles(s.getPath)
          fs.delete(s.getPath, true)
        } else if (fs.exists(s.getPath) && fs.listStatus(s.getPath).isEmpty) {
          fs.delete(s.getPath, false)
        }
      } else if ((stagingDir || staleManifest) && newest(s) <= cutoff) {
        reclaimed += (if (s.isDirectory) countFiles(s.getPath) else 1L)
        fs.delete(s.getPath, s.isDirectory)
      }
    }
    reclaimed
    }
  }

  /** [[vacuum]] for a bucketed catalog table (resolves the location and
    * serializes on the table's lock like the append/merge paths).
    */
  def vacuumTable(spark: SparkSession, table: String,
      retentionMs: Long): Long = tableLock(table).synchronized {
    vacuum(spark, tablePath(spark, table).toString, retentionMs)
  }

  /** Schema evolution on a bucketed table WITHOUT rewriting it — the
    * add-a-feature-column migration a long-lived 100 TB fact table runs
    * regularly. Free by parquet's read contract: files resolve columns
    * by NAME and a missing column reads as null, so the catalog ALTER is
    * the whole migration — existing files are untouched (same inodes,
    * same bucket layout, zero-Exchange intact), old rows read the new
    * column as null, and every later [[appendBucketedBatch]]/
    * [[mergeBucketed]] carries it (the merge's schema-applied read
    * handles pre-evolution files the same way). Columns must be added
    * NULLABLE — there is no default-value backfill without a rewrite;
    * a NOT NULL evolution is a [[compactBucketed]]-shaped rewrite with a
    * coalesce, deliberately not hidden behind this one-liner.
    */
  def addColumn(spark: SparkSession, table: String, name: String,
      dataType: String): Unit = tableLock(table).synchronized {
    // case-INSENSITIVE like the session resolver (default) — an
    // exact-case check would pass 'Score' over an existing 'score' and
    // surface as the ALTER's AnalysisException instead of this contract
    require(!spark.table(table).columns.exists(_.equalsIgnoreCase(name)),
      s"addColumn: '$name' already exists on '$table'")
    // both operands are INTERPOLATED into DDL text (r18 ADVICE): a
    // backtick in the name would escape the quoting and an arbitrary
    // dataType executes as DDL — validate, don't trust
    require(!name.contains("`"),
      s"addColumn: column name '$name' contains a backtick")
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(dataType) // throws ParseException on non-type text
    // RESURRECTION guard: parquet resolves columns by NAME, so re-adding
    // a name [[dropColumn]] dropped would read the old files' bytes back
    // — the dropped data would silently return. Delta solves this with
    // column mapping (per-column physical ids); without per-file column
    // lineage the honest contract is: reject until a physical rewrite
    // ([[compactBucketed]]) has actually removed the bytes — after which
    // the re-add reads null everywhere, as a fresh column must.
    require(!droppedColumns(spark, table).contains(name.toLowerCase),
      s"addColumn: '$name' was previously dropped from '$table' and its " +
        "bytes are still in the files — re-adding would RESURRECT the old " +
        "values (parquet name-based resolution). Run compactBucketed " +
        "first (physical rewrite), then add.")
    spark.sql(s"ALTER TABLE `$table` ADD COLUMNS (`$name` ${parsed.sql})")
    spark.catalog.refreshTable(table)
  }

  private val droppedProp = "graft.droppedColumns"

  /** Lower-cased names [[dropColumn]] removed from the catalog schema but
    * whose BYTES still sit in the table's parquet files (cleared by the
    * next [[compactBucketed]] rewrite, whose fresh table carries no
    * properties).
    */
  private[graft] def droppedColumns(spark: SparkSession, table: String): Set[String] =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .properties.get(droppedProp)
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Schema evolution: DROP a column WITHOUT rewriting the table — free
    * by the same parquet contract as [[addColumn]]: readers resolve
    * columns by name against the CATALOG schema, so narrowing the catalog
    * schema is the whole migration (existing files untouched — same
    * inodes, zero-Exchange intact; the extra bytes in old files are dead
    * weight until the next [[compactBucketed]], whose schema-applied
    * rewrite physically sheds them). The dropped name is recorded in a
    * table property so [[addColumn]] can refuse the resurrection re-add
    * (see there). The bucket/sort key cannot be dropped (the layout's
    * identity), and a table must keep ≥1 column.
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Unit =
    tableLock(table).synchronized {
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
      val catalog = spark.sessionState.catalog
      val meta = catalog.getTableMetadata(ident)
      val schema = spark.table(table).schema
      require(schema.fields.exists(_.name.equalsIgnoreCase(name)),
        s"dropColumn: '$name' does not exist on '$table'")
      val layoutCols = meta.bucketSpec
        .map(b => b.bucketColumnNames ++ b.sortColumnNames).getOrElse(Seq.empty)
      require(!layoutCols.exists(_.equalsIgnoreCase(name)),
        s"dropColumn: '$name' is a bucket/sort column of '$table' — the " +
          "layout's identity; re-bucket via compactBucketed on a new key instead")
      require(schema.fields.length > 1,
        s"dropColumn: '$name' is the only column of '$table'")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
      // the EXTERNAL catalog, not SessionCatalog.alterTableDataSchema:
      // the session-level wrapper hard-rejects any schema that loses a
      // field ("we don't support dropping columns yet") — a guard for
      // sources where narrowing loses data; parquet's name-based
      // resolution is exactly the case where it doesn't
      val db = meta.identifier.database
        .getOrElse(catalog.getCurrentDatabase)
      catalog.externalCatalog.alterTableDataSchema(db, meta.identifier.table, newSchema)
      val dropped = (droppedColumns(spark, table) + name.toLowerCase)
        .toSeq.sorted.mkString(",")
      catalog.alterTable(catalog.getTableMetadata(ident).copy(
        properties = catalog.getTableMetadata(ident).properties
          + (droppedProp -> dropped)))
      spark.catalog.refreshTable(table)
    }

  /** Schema evolution: RENAME a column — NOT free, and deliberately not
    * disguised as free: parquet name-based resolution means a
    * catalog-only rename would read NULL from every existing file (the
    * old physical name no longer matches), silently blanking the column.
    * So this IS a physical rewrite — [[compactBucketed]] economics: the
    * whole table reads (under its manifest view), rewrites through the
    * shared [[bucketWriter]] recipe with the column renamed, and swaps
    * via the same staging-table drop+rename (crash before DROP leaves the
    * original; between DROP and RENAME the full table sits under
    * `<table>_renaming`, auto-recovered like compact's). Renaming the
    * bucket key re-buckets on the new name (same hash — values unchanged
    * — so the bucket layout is preserved file-for-file in content).
    * History note: like compactBucketed, the rebuild resets the
    * location's manifest generations — pinned reads don't cross it.
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Unit = {
    require(!to.contains("`"), s"renameColumn: '$to' contains a backtick")
    rebuildBucketed(spark, table, "renameColumn", "renaming") { schema =>
      require(schema.fields.exists(_.name.equalsIgnoreCase(from)),
        s"renameColumn: '$from' does not exist on '$table'")
      require(!schema.fields.exists(_.name.equalsIgnoreCase(to)),
        s"renameColumn: '$to' already exists on '$table'")
      require(!droppedColumns(spark, table).contains(to.toLowerCase),
        s"renameColumn: '$to' was previously dropped and its bytes remain " +
          "— compactBucketed first (the resurrection guard, as in addColumn)")
      val spec = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec.getOrElse(sys.error(s"renameColumn target '$table' is not bucketed"))
      require(spec.bucketColumnNames.size == 1,
        s"renameColumn supports single-column bucket specs, '$table' has ${spec.bucketColumnNames}")
      val oldKey = spec.bucketColumnNames.head
      val newKey = if (oldKey.equalsIgnoreCase(from)) to else oldKey
      (_.withColumnRenamed(from, to), newKey, spec.numBuckets)
    }
  }

  /** Right-to-erasure on a bucketed table (GDPR Art. 17 — the DELETE +
    * VACUUM(0) discipline): tombstone-merge every row whose `key` is in
    * `keys` out of the table, then PURGE the retirement dirs immediately
    * — [[mergeBucketed]] deliberately parks replaced files under
    * `_pre_merge` for hand recovery, which is exactly what erasure must
    * NOT leave behind; after this call the keys' bytes are gone from the
    * location, not merely unreferenced. Returns the number of distinct
    * keys requested (whether or not present — erasure of an absent key
    * is vacuously done).
    *
    * `keys` is a DataFrame (first column = the ids; any name) because an
    * erasure batch can be large — it is distinct'd and pinned once
    * (localCheckpoint, the merge's own rationale: a non-deterministic
    * keys plan re-evaluating between the count and the merge would make
    * the return value disagree with the set actually erased), and costs
    * one mergeBucketed: only the buckets containing requested keys
    * rewrite. The column's dtype must EQUAL the table key's — the
    * mergeBucketed discipline; a convenience cast here would silently
    * truncate 7.5→7 or wrap an overflowing id and destroy the WRONG
    * user's rows, the one failure an erasure API must never risk. The
    * bucket count comes from the CATALOG, not a parameter — a
    * wrong caller-supplied count would rewrite the wrong buckets,
    * leaving the victim's rows live while reporting success.
    * Caveat, documented: the purge drops ALL retained generations at the
    * location (a previous merge's recovery copies, crashed-job staging
    * under `_temporary`/`.spark-staging-*` — the r18 ADVICE window — and
    * with them every older manifest generation's readability:
    * [[readTableAt]] of a pre-erasure generation fails loudly after this,
    * which is exactly right — a pinned historical read must not resurrect
    * an erased key) — the price of a hard erasure guarantee; and erasure
    * here covers THIS table's location only, not downstream copies a
    * pipeline may hold.
    */
  def forgetKeys(spark: SparkSession, table: String, key: String,
      keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val buckets = meta.bucketSpec.getOrElse(sys.error(
      s"forgetKeys target '$table' is not bucketed")).numBuckets
    val schema = spark.table(table).schema
    // ONE lease spans tombstone-merge AND purge: the erasure guarantee is
    // their conjunction, and a foreign writer landing between them could
    // re-park recoverable copies the purge already swept
    withErasureKeys(spark, tablePath(spark, table), "forgetKeys", "the table key",
        schema(key), keys) { (k, nKeys) =>
      // a full-schema all-tombstone delta in ONE projection (per-column
      // withColumn is the quadratic-analyzer anti-pattern on wide tables):
      // non-key columns ride as typed nulls — they never land, the
      // deleteCol path drops flagged rows
      val delta = k.select(
        col(key) +:
          schema.fields.filterNot(_.name == key).toSeq
            .map(f => lit(null).cast(f.dataType).as(f.name)) :+
          lit(true).as("__tombstone"): _*)
      mergeBucketed(spark, table, key, buckets, delta, Some("__tombstone"))
      // purge DIRECTLY and verify — an erasure cannot hide behind a
      // retention gate: it must return success only with the bytes gone
      tableLock(table).synchronized {
        val loc = tablePath(spark, table)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        purgeResidualDirs(fs, loc)
      }
      nKeys
    }
  }

  /** The ONE erasure key pin of [[forgetKeys]] and [[forgetKeysDir]]:
    * dtype check, then under the writer lease on `loc` the ids are
    * distinct'd and pinned (localCheckpoint) and `erase` gets them with
    * their count.
    */
  private def withErasureKeys[T](spark: SparkSession,
      loc: org.apache.hadoop.fs.Path, op: String, keyNoun: String,
      keyField: org.apache.spark.sql.types.StructField, keys: DataFrame)(
      erase: (DataFrame, Long) => T): T = {
    import org.apache.spark.sql.functions.col
    val key = keyField.name
    val inType = keys.schema(keys.columns.head).dataType
    require(inType == keyField.dataType,
      s"$op ids are ${inType.simpleString} but $keyNoun is " +
        s"${keyField.dataType.simpleString} — cast the id batch EXACTLY upstream " +
        "(a silent cast could truncate/wrap and erase the wrong key)")
    withWriterLease(spark, loc) {
      val kRdd = keys.select(col(keys.columns.head).as(key))
        .where(col(key).isNotNull).distinct().rdd
      kRdd.localCheckpoint()
      val k = spark.createDataFrame(kRdd,
        org.apache.spark.sql.types.StructType(Seq(keyField)))
      try erase(k, k.count())
      finally kRdd.unpersist(blocking = false)
    }
  }

  /** [[forgetKeys]] for a PARTITIONED (or plain) parquet directory — the
    * erasure path for `writePartitioned` layouts, where event-log-style
    * data lands (r18 verdict #3: `forgetKeys` covers bucketed catalog
    * tables only). FILE-granular, not partition-granular: only the files
    * that actually hold a requested key are read, anti-joined, and
    * rewritten (their rows land back in the right `col=value` dirs via
    * partitionBy), so an erasure batch touching k files costs O(k files),
    * not O(affected partitions) — at 100 TB a hot partition can be
    * thousands of files of which one holds the victim's rows.
    *
    * Sequence (manifest-first reader protection, then hard purge):
    * staged rewrite of the affected files → move-in → manifest flip
    * (readers pin pre- or post-erasure, never partial) → DIRECT DELETE of
    * the affected originals (no retirement — erasure), then delete every
    * data file the manifest does NOT name (a crashed earlier swap's
    * leftovers can hold the keys' bytes; under the single-writer contract
    * an unmanifested file is always either a retired duplicate or an
    * incomplete staged write — never the only copy of live data) and
    * [[purgeResidualDirs]] (retirement dirs AND crashed-job staging).
    * A crash mid-erasure leaves the location readable and the erasure
    * INCOMPLETE — re-run to completion; the manifest flip is the atomic
    * point, so no interleaving shows a reader a partial view. Same
    * dtype-equality and distinct-count contract as [[forgetKeys]].
    * Erasure RESETS generation history (superseded manifests deleted):
    * file-granular deletes would otherwise let an older pin read
    * PARTIALLY when a basename's erased occurrence is gone but a
    * partition-sibling occurrence survives — with the manifests gone,
    * every pre-erasure pin fails loudly instead, which is also the right
    * privacy posture (history must not outlive an erasure).
    */
  def forgetKeysDir(spark: SparkSession, dir: String, key: String,
      keys: DataFrame): Long = dirLock(spark, dir).synchronized {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"forgetKeysDir: $dir does not exist")
    val base = readDir(spark, dir)
    withErasureKeys(spark, root, "forgetKeysDir", "the key column",
        base.schema(key), keys) { (k, nKeys) =>
      val qualBase = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
      // the files that HOLD a requested key — input_file_name pinned at
      // the scan (before the join, where lineage would be stage-dependent)
      val affectedRels = base.withColumn("__f", input_file_name())
        .join(k, Seq(key), "left_semi")
        .select(col("__f")).distinct().collect()
        .map(r => new org.apache.hadoop.fs.Path(r.getString(0))
          .toUri.getPath.stripPrefix(qualBase))
        .toSeq.sorted
      val priorNames = readManifest(fs, root).map(_._2)
        .getOrElse(relDataFiles(fs, root)
          .map(r => new org.apache.hadoop.fs.Path(r).getName).toSet)
      // manifests name BASENAMES, and one write job reuses a part name
      // across col=value partition subdirs — so an affected basename may
      // ALSO stand for an unaffected sibling file (p=even/part-X live,
      // p=odd/part-X affected): its name must STAY manifested, or the
      // sibling would vanish from every read and the orphan sweep below
      // would destroy it (caught by LifecycleSpec's file-granular test)
      val remainingNames = (relDataFiles(fs, root).toSet -- affectedRels)
        .map(r => new org.apache.hadoop.fs.Path(r).getName)
      if (affectedRels.nonEmpty) {
        // partition columns live in the rel-path dir names (col=value)
        val partCols = affectedRels.head.split("/").dropRight(1)
          .filter(_.contains("=")).map(_.split("=", 2)(0)).toSeq
        val src = spark.read
          .option("mergeSchema", "true").option("basePath", root.toString)
          .parquet(affectedRels.map(rel =>
            new org.apache.hadoop.fs.Path(root, rel).toString): _*)
        val kept = src.join(k, Seq(key), "left_anti")
        val tmp = new org.apache.hadoop.fs.Path(root,
          s".swap-${java.util.UUID.randomUUID()}")
        try {
          val w = kept.write.mode("overwrite")
          (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
            .parquet(tmp.toString)
          val fresh = moveIn(fs, tmp, root, "forgetKeysDir")
          val affectedNames = affectedRels
            .map(r => new org.apache.hadoop.fs.Path(r).getName).toSet
          // remove only names with NO remaining unaffected occurrence
          writeManifest(fs, root,
            (priorNames -- (affectedNames -- remainingNames))
              ++ fresh.map(rel => new org.apache.hadoop.fs.Path(rel).getName))
          affectedRels.foreach { rel =>
            val p = new org.apache.hadoop.fs.Path(root, rel)
            fs.delete(p, false)
            require(!fs.exists(p),
              s"forgetKeysDir: deleting $p failed — erasure NOT complete")
          }
        } finally if (fs.exists(tmp)) fs.delete(tmp, true)
      } else if (readManifest(fs, root).isEmpty) {
        // pin a manifest so the unmanifested-file sweep below has an
        // authority even on a previously unmanaged dir
        writeManifest(fs, root, priorNames)
      }
      // erasure RESETS history: delete every superseded manifest
      // generation. File-granular deletes break the loud-or-exact pinned
      //-read contract for older generations — a gen naming a basename
      // whose erased occurrence is gone but whose partition-sibling
      // occurrence survives would read PARTIALLY (found-but-incomplete),
      // the one failure mode readDirAt cannot detect at basename
      // granularity. With the manifests gone, every pre-erasure pin
      // fails loudly at the generation lookup instead.
      val (curGen, live) = readManifest(fs, root).map(m => (m._1, m._2))
        .getOrElse((-1L, Set.empty[String]))
      Manifest.gens(fs, root).filter(_ < curGen)
        .foreach(g => fs.delete(Manifest.path(root, g), false))
      relDataFiles(fs, root).foreach { rel =>
        if (!live.contains(new org.apache.hadoop.fs.Path(rel).getName)) {
          val p = new org.apache.hadoop.fs.Path(root, rel)
          fs.delete(p, false)
          require(!fs.exists(p),
            s"forgetKeysDir: deleting unmanifested $p failed — erasure NOT complete")
        }
      }
      purgeResidualDirs(fs, root)
      pruneEmptyDirs(fs, root)
      nKeys
    }
  }

  /** Delete-and-verify every dir under `loc` that can hold residual ROW
    * BYTES outside the live file set — the erasure purge both
    * [[forgetKeys]] and [[forgetKeysDir]] run last (under the location's
    * lock, writers quiesced by the single-writer contract): this layer's
    * own retirement/staging (`_pre_merge`, `_pre_swap`, `.swap-*`) AND a
    * crashed Spark write job's hidden task staging (`_temporary`,
    * `.spark-staging-*`) — the r18 ADVICE hole: an append/merge that
    * crashed MID-JOB leaves committed task files under those dirs whose
    * bytes can still hold the erased keys' rows. Old [[Manifest]]
    * generations stay (they name files, they hold no row bytes) — a
    * pinned read of a purged generation fails loudly at resolve time.
    */
  private def purgeResidualDirs(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path): Unit = {
    val fixed = (Manifest.retirementRoots :+ "_temporary")
      .map(new org.apache.hadoop.fs.Path(loc, _))
    val staged = fs.listStatus(loc).map(_.getPath).filter { p =>
      p.getName.startsWith(".swap-") || p.getName.startsWith(".spark-staging-")
    }
    (fixed ++ staged).foreach { p =>
      fs.delete(p, true)
      require(!fs.exists(p), s"erasure: purging $p failed — erasure NOT complete")
    }
  }

  /** Compact a directory of small parquet files into ~`targetFileBytes`
    * outputs — the standard maintenance pass after streaming/incremental
    * ingest (thousands of tiny files per trigger kill scan parallelism
    * bookkeeping and NameNode/liststore load at 100 TB). Partition count is
    * sized from the actual input bytes; `repartition` (round-robin, no
    * key) rebalances evenly without assuming any distribution.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a MANIFESTED input (a staged-swap-managed dir) compacts its
    // manifest's view, read as an explicit live-file list (r18 review —
    // the compactBucketed lesson on plain dirs): a raw dir read after a
    // crashed swap would bake the old+new union into the output, and a
    // post-plan heal could retire files the raw plan already indexed
    // (FileNotFound mid-job). Sizing likewise counts LIVE bytes only —
    // getContentSummary would inflate the partition count with
    // _pre_swap/staging bytes.
    val (src, bytes) = readManifest(fs, in) match {
      case Some((_, valid, _)) =>
        val live = relDataFilesWithLen(fs, in).filter { case (rel, _) =>
          valid.contains(new org.apache.hadoop.fs.Path(rel).getName)
        }
        // basePath keeps col=value partition discovery alive under the
        // explicit leaf-file list (r18 review: without it a partitioned
        // manifested input compacts to a table silently MISSING its
        // partition columns — partitionBy strips them from file bytes)
        (spark.read.option("basePath", in.toString).parquet(
          live.map { case (rel, _) =>
            new org.apache.hadoop.fs.Path(in, rel).toString }: _*),
          live.map(_._2).sum)
      case None =>
        (spark.read.parquet(inDir), fs.getContentSummary(in).getLength)
    }
    val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // staged (r18): a RE-compaction to a live outDir is the normal
    // incremental cadence, and the in-place overwrite was the same
    // partial-table reader window writePartitioned/zorderWrite closed
    writeStaged(src.repartition(parts), outDir)
  }

  /** Plain staged overwrite of an unpartitioned parquet dir — the public
    * face of [[stagedSwap]] for outputs that are small or flat (a
    * monitoring aggregate, a compaction target): the rewrite lands whole
    * and swaps; a [[readDir]] reader pins pre- or post-swap, never a
    * partial table.
    */
  def writeStaged(df: DataFrame, dir: String): Unit =
    stagedSwap(df.sparkSession, dir,
      tmp => df.write.mode("overwrite").parquet(tmp))

  /** Z-order (Morton-curve) clustering for TWO-dimensional min/max file
    * skipping: each column QUANTILE-scales to 16 bits, the interleaved
    * code range-partitions + sorts the write, and every output file ends
    * up covering a small RECTANGLE in (a, b) rank space — so a predicate
    * on EITHER column (or a box on both) intersects only ~√(files) of
    * them, where a linear sort on `a` would leave a `b`-only predicate
    * scanning everything. The footer min/max stats parquet already writes
    * are the skipping index; no extra metadata needed. This is the
    * standard lakehouse layout trick (Delta/Iceberg `ZORDER BY`), here as
    * a plain write pass.
    *
    * Codes come from approx-quantile boundaries (one pass, both columns),
    * NOT linear (min, max) scaling: on a skewed column — power-law ids,
    * timestamps with outliers — linear scaling collapses most values into
    * a few 16-bit codes and the curve degenerates toward a 1-D sort on the
    * other column, silently killing the skewed dimension's file-skip
    * (LayoutSpec's power-law fixture pins the difference). Equal-mass rank
    * codes keep the z-property under ANY distribution. The boundary array
    * is ≤4095 longs (k scales with the derived file count below — ~32 KB
    * of literals at the ceiling, the same model-as-literals footing as
    * the ANN codebooks, far below any plan-size concern).
    * Values beyond ±2^53 lose low bits crossing the quantile sketch's
    * double — harmless here: codes only place rows, the rewrite stays
    * lossless by construction.
    *
    * `files` ≤ 0 (the default) derives the output file count from the
    * plan's input-size estimate over `targetFileBytes`, floored at 16 —
    * the [[compact]]/[[deriveBuckets]] sizing rule; a pinned file count is
    * wrong at every other SF.
    */
  def zorderWrite(df: DataFrame, dir: String, colA: String, colB: String,
      files: Int = 0, targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    // delegates to the k-dim general form — [[graft.functions
    // .InterleaveBits]] at k = 2 is bit-identical to the original
    // Interleave16 layout, so existing 2-dim layouts and their specs/
    // bench cells are byte-for-byte unchanged
    zorderWriteK(df, dir, Seq(colA, colB), files, targetFileBytes)

  /** [[zorderWrite]] generalized to 2–4 clustering columns (r18 verdict
    * #5 — production clustering is tenant × time × key, not two
    * columns): each column quantile-scales to an equal-mass rank code,
    * the k-way interleaved Morton code range-partitions + sorts the
    * write, and every output file covers a small k-dim BOX in rank
    * space — a predicate on ANY single dimension (or a box on several)
    * skips all files whose box misses it, ~files^((k−1)/k) of them.
    * Per-dimension bit budget is min(16, 63/k) (k·bits ≤ 63 keeps the
    * code sign-safe for the range partition; at k = 4 that is 15 bits =
    * 32768 ranks per dim — far above any per-file rank span). The
    * dimension count is capped at 4 deliberately: past that, per-dim
    * selectivity decays toward no skip at all (each extra dimension
    * costs every other dimension half its rank resolution per code bit
    * — the curse the lakehouse ZORDER docs warn about), and a 5-dim
    * layout is better served by partitioning the coarsest column.
    */
  def zorderWriteK(df: DataFrame, dir: String, cols: Seq[String],
      files: Int = 0, targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2 && cols.size <= 4,
      s"zorderWriteK clusters 2-4 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate clustering column in $cols")
    val nFiles = if (files > 0) files else {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      // RDD-backed frames report defaultSizeInBytes (≈Long.MaxValue) —
      // unknown stats must fall back to the floor, not saturate into
      // Int.MaxValue range partitions; the 2²⁰ cap (~128 TB of 128 MB
      // files) bounds the scheduler against any other wild estimate
      if (bytes >= BigInt(Long.MaxValue) / 4) 16
      else math.min(1 << 20,
        math.max(16, math.ceil(bytes.toDouble / targetFileBytes).toInt))
    }
    // Interior cut points scale with the file count so the z-grid always
    // has comfortably more cells than files — a fixed 255 would cap the
    // layout at 256^k distinct codes and stall file granularity past ~8 TB.
    // k cut points → (k+1)^dims cells; the 4095 ceiling keeps the
    // one-pass sketch query cheap.
    val k = math.min(4095, math.max(255, 4 * nFiles - 1))
    val probs = (1 to k).map(_.toDouble / (k + 1)).toArray
    val casted = df.select(cols.zipWithIndex.map { case (c, i) =>
      col(c).cast("double").as(s"__q$i") }: _*)
    val bs = casted.stat.approxQuantile(
      cols.indices.map(i => s"__q$i").toArray, probs, 0.001)
    val codes = cols.zipWithIndex.map { case (c, i) =>
      graft.functions.VectorExpressions.quantileCode16(
        col(c).cast("long"), bs(i).map(_.toLong).distinct.sorted)
    }
    val bits = math.min(16, 63 / cols.size)
    val z = graft.functions.VectorExpressions.interleaveBits(codes, bits)
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    // staged like writePartitioned (r17 ADVICE): the rewrite lands whole,
    // then swaps — a readDir reader never sees a partial cluster pass
    stagedSwap(df.sparkSession, dir,
      tmp => clustered.write.mode("overwrite").parquet(tmp))
  }

  /** Parse the bucket id Spark encodes in a bucketed file name
    * (`part-00000-<uuid>_00003.c000.snappy.parquet` → 3); None for
    * non-bucketed names.
    */
  private[graft] def bucketIdOf(name: String): Option[Int] = {
    val m = java.util.regex.Pattern.compile("_(\\d{5})(?:\\.c\\d+)?\\.")
      .matcher(name)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** Keyed upsert into a bucketed table, rewriting ONLY the buckets that
    * contain changed keys — the CDC-apply maintenance path (Hudi upsert /
    * Delta MERGE economics) for a 100 TB bucketed fact table: a delta
    * touching k keys costs O(k/buckets · table) read+write, not a table
    * rewrite, and every untouched bucket's FILES are untouched (same
    * inode, same scan identity — LayoutSpec pins name+size+mtime).
    *
    * Semantics: delta rows REPLACE base rows with equal `key`; rows
    * flagged true in `deleteCol` (when given) are tombstones — the key is
    * removed and the flag column never lands in the table. The delta must
    * carry ≤1 row per key (checked — a multi-row delta has no defined
    * winner at this layer; resolve latest-wins upstream, e.g.
    * [[graft.operators.Events.mergeUpsert]], the semantic twin).
    *
    * Mechanics: affected bucket ids come from the same Murmur3 hash
    * `bucketBy` uses (`pmod(hash(key), buckets)` — LayoutSpec pins the
    * agreement file-by-file); only those buckets' files are read, the
    * anti-join drops replaced keys, and the merged rows rewrite through
    * the shared [[bucketWriter]] recipe into a staging table whose files
    * then swap in. Retired files move to `_pre_merge/g<superseded gen>`
    * (underscore-prefixed → invisible to parquet scans) rather than
    * being deleted — per-generation retirement (r19), retained until
    * [[vacuum]] ages it out, so every merged-over epoch back to the
    * retention horizon stays [[readTableAt]]-pinnable and recoverable by
    * hand; under a continuous CDC cadence the extra bytes are bounded by
    * retention × churn, managed by the vacuum cadence (the Delta
    * discipline).
    *
    * SINGLE-WRITER, bounded-visibility contract (the no-transaction-log
    * price, same class as [[compactBucketed]]'s caveat): the swap moves
    * one file at a time — new files in first, then old files out — so a
    * concurrent READER in another process can transiently see a key
    * twice (old + new file both present); in-session readers are
    * serialized by [[layoutLock]]. A crash mid-swap leaves both copies
    * visible (recover: move `_pre_merge` back or re-run the merge, which
    * re-retires them); data is never in fewer than one place.
    */
  def mergeBucketed(spark: SparkSession, table: String, key: String,
      buckets: Int, delta: DataFrame,
      deleteCol: Option[String] = None,
      stampHwm: Option[Long] = None): Unit =
    layoutLock.synchronized { tableLock(table).synchronized {
    import org.apache.spark.sql.functions._
    require(spark.catalog.tableExists(table),
      s"mergeBucketed target '$table' does not exist — create it with writeBucketed first")
    // the delta's key must hash EXACTLY like the table's: Murmur3 hashes
    // the physical type, so an int-typed delta key against a bigint table
    // key computes different bucket ids and the wrong buckets rewrite —
    // replaced keys would silently survive in buckets never read
    val tableSchema = spark.table(table).schema
    require(delta.schema(key).dataType == tableSchema(key).dataType,
      s"mergeBucketed delta '$key' is ${delta.schema(key).dataType.simpleString} but the " +
        s"table's is ${tableSchema(key).dataType.simpleString} — cast the delta key first " +
        "(bucket hashing is type-sensitive)")
    // the lease spans the WHOLE pin→validate→merge sequence: the delta
    // plan can read this table (maintainAdditive's fold does), and that
    // read materializes at the validation aggregate below — a foreign
    // writer landing between that read and the move-in would be silently
    // overwritten (lost update) if the lease started any later
    withWriterLease(spark, tablePath(spark, table)) {
    // Pin the delta ONCE (localCheckpoint, loud-on-loss): four derived
    // uses below (dupes check, affected-bucket collect, anti-join,
    // staging write) re-evaluating a non-deterministic delta plan could
    // disagree — the collected bucket set vs the rows actually written —
    // leaving a replaced key alive in a bucket that was never read.
    // FRESH lineage via map(identity): Dataset.rdd is a CACHED lazy val,
    // so checkpointing and later unpersisting the shared instance would
    // poison every subsequent use of the same Dataset — an in-session
    // retry of a rejected merge (the documented recovery) died with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND before this wrapper.
    val deltaRdd = delta.rdd.map(identity)
    deltaRdd.localCheckpoint()
    val pinned = spark.createDataFrame(deltaRdd, delta.schema)
    try {
      // ONE full-scan aggregate validates the delta — deliberately NOT a
      // limit(1) probe: the first action on the just-localCheckpointed
      // delta must compute EVERY partition (a short-circuiting CollectLimit
      // materializes only the partitions it touches, truncates the lineage,
      // and every later full read dies with CHECKPOINT_RDD_BLOCK_ID_NOT_
      // FOUND). Checks: (a) NULL keys are unsound, not merely odd — the
      // replace semantics ride key-equality joins (the anti-join below,
      // maintainAdditive's semi-join) and null never equals null, so a
      // null-keyed delta row would land NEXT TO an existing null-keyed
      // table row instead of replacing it; (b) duplicate keys mean the
      // caller skipped latest-wins resolution.
      val s = pinned.agg(count(lit(1)).as("rows"),
        count(col(key)).as("non_null"),
        countDistinct(col(key)).as("uniq")).first()
      require(s.getLong(0) == s.getLong(1),
        s"mergeBucketed delta has a NULL '$key' — key-equality joins cannot " +
          "match null, so the replace contract breaks; filter nulls upstream")
      require(s.getLong(2) == s.getLong(1),
        s"mergeBucketed delta has >1 row for some '$key' — resolve latest-wins upstream")
      val loc = tablePath(spark, table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // delta is the SMALL side by contract: the distinct bucket-id collect
      // is bounded by `buckets`, never by rows
      val affected = pinned
        .select(pmod(hash(col(key)), lit(buckets)).as("b")).distinct()
        .collect().map(_.getInt(0)).toSet
      val listed = listDataFiles(fs, loc)
      // every data file must place into a bucket: a file whose name parses
      // no bucket id (foreign write path, hand-renamed file) would be
      // classified "untouched" and keep stale rows for replaced keys —
      // fail loudly instead of merging around it
      listed.foreach(s => require(bucketIdOf(s.getPath.getName).isDefined,
        s"mergeBucketed: '${s.getPath.getName}' in $loc has no parseable bucket id — " +
          "not a bucketBy-written file; refusing to merge around it"))
      // the MANIFEST, not the raw listing, defines the live file set (r17
      // review — the compactBucketed fix's sibling): a merge that crashed
      // between move-in and retirement leaves dead old copies next to the
      // manifest that excludes them; reading them here would duplicate
      // every key the crashed merge replaced, and re-manifesting an
      // unaffected-bucket orphan would bless it forever. Orphans are
      // retired with this merge's old files instead — never read, never
      // re-manifested.
      val (priorGen, dataFiles, orphans, priorHwm) = readManifest(fs, loc) match {
        case Some((g, valid, h)) =>
          val (in, out) = listed.partition(s => valid.contains(s.getPath.getName))
          (g, in, out, h)
        case None => (0L, listed, Array.empty[org.apache.hadoop.fs.FileStatus], -1L)
      }
      val (oldAffected, untouched) =
        dataFiles.partition(s => bucketIdOf(s.getPath.getName).exists(affected.contains))
      val base =
        if (oldAffected.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            tableSchema)
        else spark.read.schema(tableSchema)
          .parquet(oldAffected.map(_.getPath.toString).toIndexedSeq: _*)
      val upserts = deleteCol match {
        case Some(c) => pinned.where(!col(c)).drop(c)
        case None    => pinned
      }
      val merged = base
        .join(pinned.select(col(key)).distinct(), Seq(key), "left_anti")
        .unionByName(upserts.select(tableSchema.fieldNames.map(col).toIndexedSeq: _*))
      val staging = s"${table}_merging"
      writeBucketed(merged, staging, key, buckets)
      val stagingLoc = tablePath(spark, staging)
      // new files in, manifest, old files out (retire, don't delete)
      val movedIn = listDataFiles(fs, stagingLoc).map(_.getPath.getName)
      moveRels(fs, stagingLoc, loc, movedIn, "mergeBucketed")
      // manifest BETWEEN move-in and retirement: a reader that lists
      // before this line resolves the old manifest → the pre-merge file
      // set (all still present); after it → untouched + new files. At no
      // instant does a manifest-aware reader see a replaced key twice.
      // The ingest hwm carries forward — a CDC merge must not reopen the
      // exactly-once window for the append stream — unless this merge IS
      // a gated maintenance batch ([[maintainAdditiveBatch]]) stamping
      // its own id.
      writeManifest(fs, loc,
        untouched.map(_.getPath.getName).toSeq ++ movedIn,
        stampHwm.getOrElse(priorHwm))
      // PER-GENERATION retirement (r19 — supersedes the r16 one-dir
      // policy): the replaced files park under `_pre_merge/g<superseded
      // gen>`, RETAINED until [[vacuum]] ages the generation out. Under a
      // continuous CDC cadence growth is bounded by retention × churn —
      // the Delta discipline, managed by the vacuum cadence instead of
      // the next merge — and in exchange every merged-over epoch back to
      // the retention horizon stays [[readTableAt]]-pinnable and
      // hand-recoverable (the r16 bounded-growth rationale predates
      // vacuum's existence).
      retireTo(fs, loc, Manifest.preMerge(priorGen),
        (oldAffected ++ orphans).map(_.getPath.getName))
      spark.sql(s"DROP TABLE `$staging`")
      spark.catalog.refreshTable(table)
    } finally deltaRdd.unpersist(blocking = false)
    }
  }}

  /** Incrementally maintain an ADDITIVE per-key aggregate table — the
    * materialized-view upsert (Materialize/Flink's incremental
    * aggregation, scoped to what a batch cadence needs): `table` is a
    * bucketed layout holding one row per `key` whose non-key columns are
    * all additive aggregates (counts, sums — every numeric type), and
    * `batch` brings the SAME schema of per-key contributions from new
    * data. The maintenance pass folds them in without touching the rest
    * of the table:
    *
    *   1. current values for ONLY the batch's keys (left-semi against
    *      the bucketed table — the table side joins with zero Exchange,
    *      the batch's distinct keys are the shuffled side),
    *   2. union + re-aggregate (one shuffle of batch-sized data; a key's
    *      old row and its contribution sum columnwise — `sum` ignores
    *      nulls on either side, matching a recompute-from-raw's
    *      semantics),
    *   3. [[mergeBucketed]] the updated rows (only buckets containing
    *      batch keys rewrite; O(batch + affected buckets), never
    *      O(table)).
    *
    * Cost model at 100 TB: a maintained aggregate is read with a plain
    * bucketed scan — ZERO work at serve time — while each maintenance
    * pass costs the batch's own aggregation plus the affected-bucket
    * rewrite, the same bill [[mergeBucketed]] already pays for CDC.
    * RETRACTIONS are free by construction: negative contributions
    * subtract (a count column reaching 0 keeps its 0-row — row deletion
    * is a policy call, compose with [[forgetKeys]] if needed). NOT for
    * non-additive aggregates (min/max/distinct survive inserts but not
    * retractions; maintain those as sketches or recompute).
    *
    * The batch must be pre-aggregated per key (one row per key — enforce
    * upstream with the same groupBy that shaped the table; duplicate
    * keys are rejected by [[mergeBucketed]]'s contract). Schema must
    * match the table's EXACTLY (names and types): a silently-cast column
    * would corrupt sums with no oracle in sight. Floating-point columns
    * fold in a DIFFERENT association order than a from-raw recompute —
    * integer units (the ExactMoney discipline q_incremental_agg uses)
    * give exact parity; double columns carry the usual reassociation
    * tolerance.
    */
  def maintainAdditive(spark: SparkSession, table: String, key: String,
      buckets: Int, batch: DataFrame,
      stampHwm: Option[Long] = None): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val schema = spark.table(table).schema
    require(batch.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"maintainAdditive batch schema ${batch.schema.simpleString} must equal " +
        s"the table's ${schema.simpleString} — additive maintenance on a " +
        "mismatched column would corrupt the aggregate silently")
    val aggFields = schema.fields.filterNot(_.name == key)
    require(aggFields.nonEmpty, "maintainAdditive: nothing to maintain")
    aggFields.foreach(f => require(
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"maintainAdditive: '${f.name}' is ${f.dataType.simpleString}, not numeric — " +
        "only additive aggregates (counts/sums) can be maintained incrementally"))
    // Pin the batch ONCE (localCheckpoint): it is read twice below (keys
    // + union) and then a third time inside mergeBucketed's own pin — a
    // non-deterministic batch plan re-evaluating across those uses could
    // fold one contribution set and merge another. Pinning here also
    // freezes the batch BEFORE the table mutates: the union reads the
    // table's pre-merge rows by construction (mergeBucketed pins its
    // delta — `updated` — with its own localCheckpoint before any write).
    // map(identity) for the same reason as mergeBucketed's pin: the
    // Dataset's cached `.rdd` must never be checkpointed+unpersisted.
    val bRdd = batch.rdd.map(identity)
    bRdd.localCheckpoint()
    val pinned = spark.createDataFrame(bRdd, batch.schema)
    try {
      val keys = pinned.select(col(key)).distinct()
      // current rows for the batch's keys only: the bucketed side joins
      // Exchange-free; untouched keys are never read here or rewritten
      val cur = readTable(spark, table).join(keys, Seq(key), "left_semi")
      val aggExprs = aggFields.toSeq.map(f =>
        sum(col(f.name)).cast(f.dataType).as(f.name))
      val updated = cur.unionByName(pinned)
        .groupBy(col(key))
        .agg(aggExprs.head, aggExprs.tail: _*)
      mergeBucketed(spark, table, key, buckets, updated, stampHwm = stampHwm)
    } finally bRdd.unpersist(blocking = false)
  }

  /** EXACTLY-ONCE [[maintainAdditive]] — the streaming-cadence form.
    * Unlike an append, a maintenance fold is NOT naturally idempotent: a
    * foreachBatch crash-restart re-delivering a committed batch would
    * fold its contributions in TWICE and silently corrupt every touched
    * sum — the same silent-duplication class B14 closed for appends, but
    * worse (an appended duplicate is at least visible as an extra row; a
    * double-folded sum is indistinguishable from real data). Same
    * bookkeeping as [[appendBucketedBatch]]: the manifest's ingest hwm
    * gates the batch id — at-or-below-mark ids no-op (the restart
    * re-delivery and the DR-restored same-stream catch-up), batch 0
    * against a positive mark rejects loudly (a fresh checkpoint must
    * target a fresh table), and the applying merge stamps its id into
    * the manifest atomically with the fold itself (crash before the
    * manifest flip = batch not applied AND not marked; after = applied
    * AND marked — no window where a re-delivery could double-fold).
    * Returns true if the batch applied, false for the no-op.
    */
  def maintainAdditiveBatch(spark: SparkSession, table: String, key: String,
      buckets: Int, batch: DataFrame, batchId: Long): Boolean =
    layoutLock.synchronized { tableLock(table).synchronized {
      require(spark.catalog.tableExists(table),
        s"maintainAdditiveBatch target '$table' does not exist — seed it with writeBucketed first")
      require(batchId >= 0, s"maintainAdditiveBatch needs a streaming batch id, got $batchId")
      val loc = tablePath(spark, table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // lease spans the hwm READ and the nested fold (which re-enters it):
      // a foreign appender between the read and the merge could otherwise
      // advance the mark we just checked
      withWriterLease(spark, loc) {
      val hwm = readManifest(fs, loc).map(_._3).getOrElse(-1L)
      if (batchApplied("maintainAdditiveBatch", table, batchId, hwm)) false
      else {
        maintainAdditive(spark, table, key, buckets, batch, stampHwm = Some(batchId))
        true
      }
      }
    }}

  /** The `foreachBatch` form of [[maintainAdditiveBatch]]:
    * `.writeStream.foreachBatch(Layout.maintainSink(table, key, buckets)(aggOf))`
    * — `aggOf` shapes the raw micro-batch into the table's per-key
    * aggregate schema (the same groupBy that seeded the table), then the
    * gated fold applies it exactly once.
    */
  def maintainSink(table: String, key: String, buckets: Int)(
      aggOf: DataFrame => DataFrame): (DataFrame, Long) => Unit =
    (batch, id) => {
      maintainAdditiveBatch(batch.sparkSession, table, key, buckets, aggOf(batch), id)
      ()
    }

  /** Rewrite a bucketed table in place: read → one file per bucket through
    * the SAME [[bucketWriter]] recipe → staged swap (staging table, drop,
    * rename). This is the maintenance pass that bounds
    * [[appendBucketed]]'s files-per-bucket growth — plain [[compact]]
    * round-robins rows and would DESTROY the bucket hash. Passing a new
    * (power-of-two) `buckets` is the re-bucketing path for a grown corpus;
    * passing the current count is pure compaction. Zero-Exchange plans and
    * row content are preserved either way (LayoutSpec pins both).
    *
    * SINGLE-WRITER contract: pause the append stream across the swap — a
    * micro-batch landing between the staging write's scan and the DROP
    * would be lost (the same no-ACID caveat as OPTIMIZE on any
    * metastore table without a transaction log; LayoutSpec's streaming
    * test compacts with the stream quiesced, the real cadence). Crash
    * safety: the data is never in fewer than one place — a crash before
    * DROP leaves the original intact (plus a `_compacting` leftover that
    * the next run's writeBucketed preamble clears), a crash between DROP
    * and RENAME leaves the FULL table under `<table>_compacting` — and a
    * later call AUTO-RECOVERS it (one RENAME back) before compacting. The
    * whole pass holds [[layoutLock]], the same monitor the session-scoped
    * layout queries take, so a concurrent reader never resolves the name
    * inside the DROP→RENAME window (ADVICE r14).
    */
  def compactBucketed(spark: SparkSession, table: String, key: String,
      buckets: Int): Unit =
    rebuildBucketed(spark, table, "compactBucketed", "compacting")(
      _ => (identity, key, buckets))

  /** The ONE catalog-schema rebuild of [[compactBucketed]] and
    * [[renameColumn]]: `plan` validates the catalog schema and returns the
    * reshape, bucket key and bucket count; the manifest view is rewritten
    * into `<table>_<suffix>` and renamed over the table.
    */
  private def rebuildBucketed(spark: SparkSession, table: String, op: String,
      suffix: String)(
      plan: org.apache.spark.sql.types.StructType => (DataFrame => DataFrame, String, Int)
  ): Unit =
    layoutLock.synchronized { tableLock(table).synchronized {
    val staging = s"${table}_$suffix"
    // auto-recover a crash between a previous run's DROP and RENAME: the
    // full table is sitting under the staging name
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(staging))
      spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    require(spark.catalog.tableExists(table),
      s"$op target '$table' does not exist")
    // Read the table's FILES, not the catalog table: when the source scan
    // is the bucketed table itself the planner elides bucketWriter's
    // aligning repartition as redundant — and then auto-disables the
    // bucketed read, so write tasks get size-based file splits with MIXED
    // bucket ids and the rewrite lands >1 file per bucket (observed: 10
    // files for 4 buckets). A plain parquet scan has UnknownPartitioning,
    // the shuffle survives, and each bucket compacts to exactly one file.
    //
    // ...but the MANIFEST's files, not the raw directory (r17 review): a
    // merge that crashed between move-in and retirement leaves old+new
    // copies of replaced keys in the dir with the manifest naming only
    // the new set. A raw-dir compact would bake the duplicates into the
    // rewrite and bless them with a fresh manifest — permanent silent
    // corruption; the manifest-filtered read compacts the CONSISTENT view
    // (and the rewrite itself then retires the orphans).
    val locPath = tablePath(spark, table)
    val fs = locPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the staging table's manifest becomes the TABLE's after the rename,
    // so the ingest hwm must ride along — a compaction must not reopen
    // the exactly-once window for the append stream.
    //
    // Read with the CATALOG schema, not inference (r19): after a
    // dropColumn the files still carry the dropped column's bytes — an
    // inferred read would resurrect it into the rewrite AND the new
    // catalog schema; after an addColumn, inference from pre-evolution
    // files would silently DROP the new column. The schema-applied read
    // makes compact the physical-migration pass the schema-evolution ops
    // document: dropped bytes shed here (clearing the resurrection guard
    // — the fresh staging table carries no droppedColumns property),
    // added columns materialize as real null columns.
    val tblSchema = spark.table(table).schema
    val (reshape, key, buckets) = plan(tblSchema)
    withWriterLease(spark, locPath) {
      val (src, hwm) = readManifest(fs, locPath) match {
        case Some((_, valid, h)) =>
          (spark.read.schema(tblSchema).parquet(valid.toSeq.sorted
            .map(n => new org.apache.hadoop.fs.Path(locPath, n).toString): _*), h)
        case None => (spark.read.schema(tblSchema).parquet(locPath.toString), -1L)
      }
      writeBucketed(reshape(src), staging, key, buckets, hwm)
      spark.sql(s"DROP TABLE `$table`")
      spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    }
  }}
}
