package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Uses the `noop` sink so the FULL plan executes
  * (a bare `.count()` would let Catalyst prune most of the work and
  * report fantasy numbers). AQE stays on — it is the config we'd run
  * with on a real cluster.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()

    // A query that throws records -1 for that rep, is named in the
    // "failed" list of the summary and bench_full_last.json, and makes
    // the run exit 1 — a crash must never read as a faster total.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    def run(name: String): Double = {
      System.err.println(s"[bench] run $name")
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        failed += name
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Warm every query once (JIT + codegen compilation dominate a cold
    // first run — measured 13 s vs 1.3 s steady-state on one scalar
    // query), then measure `reps` further executions and record the MIN.
    // A single measured execution has no defense against a transiently
    // contended host (an unrelated process stealing the cores inflates
    // one run 10-60x); the min is the number that reflects the PLAN,
    // which is what a long-running cluster job sees. The median is
    // reported alongside so contention remains visible in the artifact.
    //
    // Reps are INTERLEAVED round-robin across the whole query set (rep
    // 1 of every query, then rep 2 of every query, …), not back-to-back
    // per query: a multi-minute contention burst then inflates one rep
    // of many queries — which min() discards — instead of every rep of
    // a few queries, which r6 showed produces 15x phantom regressions
    // (q_unpivot 4.17s recorded vs 0.55s steady-state in a fresh JVM).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Optional subset (comma-separated names, or a file path via @/path):
    // the single-query dev loop, and the outer-decade scaling runs where
    // timing the full surface is wall-clock infeasible. Only a
    // full-surface run rewrites bench_full_last.json, so the committed
    // BENCH_r{N}-comparable map is never replaced by a partial one.
    val subset: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_SUBSET")
      .map { s =>
        val names =
          if (s.startsWith("@"))
            scala.io.Source.fromFile(s.drop(1)).getLines()
              .map(_.trim).filter(n => n.nonEmpty && !n.startsWith("#")).toSet
          else s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty, s"unknown bench subset: ${unknown.mkString(",")}")
        names
      }.getOrElse(SparkEntry.queries.keySet)
    val ordered = SparkEntry.queries.keys.toSeq.filter(subset).sorted
    // BPE training cost, accounted explicitly: the merge table is
    // memoized per (corpus, k, tokenizer) for the JVM's lifetime, so
    // after this first run every q_bpe_merges/q_bpe_encode rep prices
    // encode/apply only — the steady state a persisted tokenizer model
    // gives a real pipeline, but NOT the cost of training itself. This
    // very first execution (fresh JVM, memo empty) IS the cold train;
    // record it so the artifact states train vs encode cost instead of
    // hiding training inside whichever query touches the memo first.
    val bpeTrainCold =
      if (subset("q_bpe_merges")) run("q_bpe_merges")
      else -1.0
    println(f"""{"metric":"cold","name":"bpe_train","sec":$bpeTrainCold%.3f}""")
    ordered.foreach(run)

    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    for (_ <- 0 until reps; name <- ordered) {
      val t = run(name)
      if (t >= 0) times(name) = times.getOrElse(name, Vector.empty) :+ t
    }
    // Re-certify the slowest tail: the queries whose numbers drive the
    // round-over-round comparison get extra, later-in-time reps, so a
    // burst that happened to span all earlier reps still can't stick a
    // false regression on them.
    val slowest = times.toSeq
      .filter(_._2.nonEmpty).sortBy(-_._2.min).take(8).map(_._1).toSet
    for (_ <- 0 until 2; name <- ordered if slowest(name)) {
      val t = run(name)
      if (t >= 0) times(name) = times(name) :+ t
    }

    // EVERY printed line is small (<120 bytes): the recording harness
    // captures only a log tail, and a single giant JSON line loses its
    // head to the tail window (it did, three rounds running — per-query
    // maps inlined in the summary pushed the head out). One JSON line
    // per query makes any tail self-sufficient, and the machine-readable
    // summary is ONE SHORT line that always fits.
    val results = ordered.map { name =>
      val ts = times.getOrElse(name, Vector.empty)
      val (min, med) =
        if (ts.isEmpty) (-1.0, -1.0)
        else (ts.min, ts.sorted.apply(ts.size / 2))
      println(f"""{"metric":"query","name":"$name","min":$min%.3f,"med":$med%.3f}""")
      Console.out.flush()
      (name, min, med)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalMed = results.map(_._3).filter(_ >= 0).sum
    // Pipeline accounting, split out like bpe_train_cold_sec: these
    // queries execute a full multi-batch ledger WRITE pipeline (bucketed
    // table creates + appends + CC rounds) inside one bench entry.
    // pipeline_sec is the WALL TIME of those pipeline-flow queries
    // (ingest IO dominates it, but probe compute and CC rounds are
    // included — it is not an IO meter), so it
    // gets its own named field and an ex-pipeline total that stays
    // comparable round-over-round as more pipeline flows join the
    // surface. The SAME key names appear in bench_full_last.json and
    // on stdout.
    val pipelineQueries = Set("q_dedup_incremental", "q_dedup_incr_clusters")
    val pipelineIo = results
      .filter(r => pipelineQueries(r._1) && r._2 >= 0).map(_._2).sum
    val totalExPipeline = total - pipelineIo
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    // Stop Spark BEFORE the summary line so no shutdown logging can land
    // after it — the JSON must be the final bytes of the captured tail.
    spark.stop()
    // The recorder keeps only a 2000-char stdout tail, so the per-query
    // map is also persisted to a file in the working tree — committed
    // next session, it gives every round a full timing history that no
    // tail window can clip. A failed write throws: the run exits non-zero
    // rather than leave an old file looking current.
    if (ordered.size == SparkEntry.queries.size) {
      val qjson = results
        .map { case (n, mn, md) => f""""$n":{"min":$mn%.3f,"med":$md%.3f}""" }
        .mkString("{", ",", "}")
      val w = new java.io.PrintWriter("bench_full_last.json")
      try w.println(
        f"""{"sf_dir":"$sfDir","total_min":$total%.3f,"total_med":$totalMed%.3f,""" +
          f""""bpe_train_cold_sec":$bpeTrainCold%.3f,""" +
          f""""pipeline_sec":$pipelineIo%.3f,""" +
          f""""total_ex_pipeline":$totalExPipeline%.3f,"failed":$failedJson,""" +
          f""""queries":$qjson}""")
      finally w.close()
    }
    // Two summary lines. The recorder keeps a 2000-char tail (measured:
    // BENCH_r05.json's "tail" is exactly 2000 chars), and at 110 queries
    // the full inline map is ~2.5 KB — it can never survive the window.
    // So: (1) the spec-schema line WITH the full "queries" map, for any
    // parser that reads the whole log; (2) LAST, a short line that
    // always fits the tail window intact (plus sbt's ~75-char trailing
    // "[success]" line), so a tail-scanning parser finds valid JSON.
    // build.sbt's StdoutOutput strategy keeps both lines free of the
    // "[info] " prefix that would break a strict json.loads.
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).stripSuffix(".")).getOrElse("0")
    val qmap = results
      .map { case (name, min, _) => f""""$name":$min%.3f""" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      f""""queries":$qmap,"sf":$sfNum}""")
    // The final line also inlines the slowest-10 mins — the numbers that
    // drive perf judgment — since they fit the tail window where the
    // full map cannot (~4 KB at 180+ queries; bench_full_last.json in
    // the working tree carries the complete map).
    val slowestTail = results.sortBy(-_._2).take(10)
      .map { case (name, min, _) => f""""$name":$min%.3f""" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      f""""median_total":$totalMed%.3f,"queries_count":${results.size},""" +
      f""""pipeline_sec":$pipelineIo%.3f,""" +
      f""""total_ex_pipeline":$totalExPipeline%.3f,""" +
      f""""slowest":$slowestTail,"sf":$sfNum,"failed":$failedJson}""")
    Console.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
