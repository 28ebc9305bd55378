package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Queries execute to the
  * noop sink — count() would let Catalyst prune most of the work; noop
  * materializes every output row.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // sf≥10 runs require the documented 64g driver protocol (q_pagerank's
    // localCheckpoint blocks + execution memory need ~48g headroom; the r15
    // marathon accidentally ran at 8g and OOM'd exactly there). Fail fast
    // instead of relying on the operator remembering SPARK_DRIVER_MEM;
    // SPARK_GRAFT_ALLOW_SMALL_HEAP=1 overrides for deliberate experiments.
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble)
    val maxHeapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    if (sfNum.exists(_ >= 10) && maxHeapGb < 48 &&
        !sys.env.get("SPARK_GRAFT_ALLOW_SMALL_HEAP").contains("1")) {
      System.err.println(f"[bench] sf≥10 requires the 64g driver protocol " +
        f"(heap is $maxHeapGb%.1f GiB < 48). Set -Xmx64g (e.g. JAVA_OPTS) " +
        "or SPARK_GRAFT_ALLOW_SMALL_HEAP=1 to override.")
      sys.exit(2)
    }

    // JVM/codegen warmup so the first measured query isn't charged for it.
    // Without it the alphabetically-first measured query (q_agg_groupby)
    // absorbed the first-ever WindowExec / typed-Dataset codec / ImageIO
    // static init and read ~1.2 s over its own steady state (measured
    // r19-opt). The timed region, sink, iteration rule and per-query
    // isolation are unchanged — warmup only stops the first query from
    // paying for shared JVM state every later query gets for free.
    // Warmup data resolves from the measured dir (r19 verdict: the fixed
    // /root/testdata/sf0.001 crashed the bench whenever SF_DIR pointed
    // elsewhere and the fixture was absent): $SPARK_GRAFT_WARMUP_DIR if
    // set, else the measured dir's sf0.001 sibling. NEVER the measured
    // data itself (warmup must not pre-touch the timed region's files),
    // and a missing fixture degrades to cold start instead of aborting.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      Option(java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent)
        .map(_.resolve("sf0.001").toString).getOrElse("/root/testdata/sf0.001"))
    val warmable = warmDir != null &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir)) &&
      java.nio.file.Paths.get(warmDir).toAbsolutePath !=
        java.nio.file.Paths.get(sfDir).toAbsolutePath
    if (warmable) {
      // q_agg_groupby is the entry() flagship shape; the other three cover
      // WindowExec, the typed-Dataset codec path and ImageIO static init
      try Seq("q_agg_groupby", "q_secondary_sort", "q_dedup_minhash",
          "q_image_dedup").foreach { w =>
        SparkEntry.queries(w)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
      }
      catch { case e: Exception =>
        System.err.println(s"[bench] warmup degraded to cold start: $e")
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    } else System.err.println(
      s"[bench] no warmup fixture at $warmDir (or it IS the measured dir); cold start")

    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    // optional args = bench only these queries (dev loop); default = all
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    // per query: Right(best seconds) on success, Left(error) if any iter threw
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // guide §1.5: label every query's jobs so the UI/event logs are
      // attributable (thread-local, zero timing impact)
      spark.sparkContext.setJobDescription(s"bench:$name")
      var err: Option[String] = None
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          err = Some(e.toString.takeWhile(_ != '\n').take(200))
        }
        (System.nanoTime() - t0) / 1e9
      }
      // Between queries (outside the timed region): drop every block the
      // previous query left behind, then a GC nudge. localCheckpoint
      // blocks stay registered until their RDD is garbage-collected, so a
      // marathon suite otherwise ages the JVM — storage squeezed execution
      // memory until alphabetically-late queries paid 1.5–3× (the
      // r6/r7/r9/r13 "suite-context noise" adjudications) and the r15 8g
      // sf10 run OOM'd outright at q_pagerank. Explicit unpersist gives
      // every query the isolation the fresh-JVM adjudications measure.
      // blocking = true: removal is outside the timed region so the wait is
      // free, and it guarantees blocks are gone before the GC nudge and the
      // next query's timer start (async removal could still be in flight).
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      name -> err.toLeft(times.min) // steady-state: best of N (JIT/cache warm)
    }
    // a crashed query must not make the bench look faster: its time is null
    // in the JSON, it's listed under "failed", and the process exits non-zero
    val qs = results.map {
      case (k, Right(v)) => "\"" + k + f"""\":$v%.3f"""
      case (k, Left(_)) => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, Left(_)) => "\"" + k + "\"" }
    val total = results.collect { case (_, Right(v)) => v }.sum
    val head = f""""metric":"total","value":$total%.3f,"unit":"sec","failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir","n_queries":${results.size},"total_sec":$total%.3f"""
    // The driver keeps only the LAST 2000 chars of output and json-parses
    // what survives — a single line carrying all 128 per-query times
    // (~3.2 KB) can NEVER fit, which is what nulled the r8–r11 artifacts'
    // "parsed". Three-part emission instead:
    //  1. the full object, first (complete in the captured stdout / logs);
    //  2. the full object to BENCH_FULL.json next to the repo artifacts
    //     (the committed trend tooling reads it);
    //  3. LAST, a compact self-contained line < 1900 chars: headline +
    //     the slowest queries' times, greedily packed — the tail window
    //     then always ends with one complete parseable JSON line, and the
    //     dropped entries are the sub-noise-floor fast ones.
    println(s"""{$head,"queries":$qs}""")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_FULL.json"),
      s"""{$head,"queries":$qs}\n""")
    catch { case e: Exception => System.err.println(s"[bench] BENCH_FULL.json: $e") }
    val slowFirst = results.collect { case (k, Right(v)) => (k, v) }.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
    // 2000-char window minus sbt's trailing "[success] Total time" line
    // (~70 chars) minus the fixed JSON scaffolding, with slack
    val budget = 1840 - head.length - 60
    val (packed, _) = slowFirst.foldLeft((List.empty[String], 0)) {
      case ((acc, len), e) =>
        if (len + e.length + 1 <= budget) (e :: acc, len + e.length + 1) else (acc, len)
    }
    val omitted = slowFirst.size - packed.size
    println(s"""{$head,"queries_omitted":$omitted,"queries":${packed.reverse.mkString("{", ",", "}")}}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
