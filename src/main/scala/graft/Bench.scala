package graft

/** Benchmark main: executes every catalog query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query seconds.
  *
  * Queries are fully executed via the `noop` sink (forces every projected
  * column to be computed — `count()` would let Catalyst prune the very
  * expressions we want to measure). A warm-up run of the smallest query
  * amortizes session/codegen start-up out of the per-query numbers.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session("graft-bench")

    // Per-query execution datasheet (rows/bytes/shuffle/spill/task-skew
    // keyed by per-pass bench-<query>#p<pass> job groups; the written
    // sheet keeps only each query's winning pass) — the monitoring parity
    // artifact, written next to the timing JSON every run.
    val metrics = new graft.pipeline.MetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // Per-query watchdog: the wall-clock budget below is only checked BETWEEN
    // queries, so one genuinely hung query would still ride the process into
    // the driver's kill (rc=124, no JSON). Each query runs in its own thread
    // under a job group; past the deadline the group is cancelled (Spark
    // tasks respond to cancellation at the next record boundary) and the
    // query is scored -1 for the pass — a lost sample, not a lost round.
    val queryTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERY_TIMEOUT_SEC", "600").toLong
    // Each execution runs under its OWN job group (bench-<name>#p<pass>):
    // the metrics datasheet then reports the winning pass's numbers alone,
    // instead of summing warm-up + every pass + cancelled attempts into
    // incomparable totals (cross-round comparability needs per-execution
    // semantics, matching the min-across-passes timing).
    def run(name: String, group: String): Double = {
      val t0 = System.nanoTime()
      @volatile var failed: Throwable = null
      val worker = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => failed = e }
        finally spark.sparkContext.clearJobGroup()
      }, group)
      worker.setDaemon(true)
      worker.start()
      worker.join(queryTimeoutSec * 1000)
      if (worker.isAlive) {
        System.err.println(s"[bench] $name TIMED OUT after ${queryTimeoutSec}s — cancelling")
        spark.sparkContext.cancelJobGroup(group)
        // Structured-Streaming executions (q164) submit their micro-batch
        // jobs from the stream-execution thread under the query's OWN job
        // group (its runId) — cancelJobGroup(group) never touches them and
        // awaitTermination would block the worker forever. Stop any active
        // streaming query — from a BOUNDED daemon thread, because stop()
        // itself joins the stream thread with stopTimeout=0 (wait forever
        // by default): a stream stuck in uninterruptible IO would
        // otherwise convert this per-query timeout into a whole-bench
        // hang. The bench runs queries one at a time, so anything active
        // belongs to the timed-out execution.
        def stopActiveStreams(): Unit = spark.streams.active.foreach { sq =>
          System.err.println(s"[bench] stopping streaming query ${sq.name}")
          val stopper = new Thread(() =>
            try sq.stop() catch { case e: Exception =>
              System.err.println(s"[bench] stop failed: $e") })
          stopper.setDaemon(true)
          stopper.start()
          stopper.join(15000)
          if (stopper.isAlive)
            System.err.println(s"[bench] ${sq.name} did not stop within 15s — abandoning")
        }
        stopActiveStreams()
        worker.join(30000)
        // A worker timed out BETWEEN schema read and start() registers its
        // stream only after the first sweep — re-check once post-grace so
        // a late-starting stream can't park in awaitTermination unnoticed.
        if (worker.isAlive) stopActiveStreams()
        // Spark cancellation is best-effort (tasks yield at record
        // boundaries): a worker still alive after the grace join keeps
        // competing for executor threads and contaminates the NEXT queries'
        // samples in this pass. Flag it loudly so a pass with a zombie can
        // be discounted when reading the numbers.
        if (worker.isAlive)
          System.err.println(
            s"[bench] $name worker STILL RUNNING after cancel+30s grace — " +
              "subsequent timings in this pass may be contaminated")
        return -1.0
      }
      if (failed != null) {
        System.err.println(s"[bench] $name failed: $failed"); return -1.0
      }
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name $t%.2fs")
      t
    }

    // Host-calibration probe: a FIXED, Spark-free micro-benchmark run at
    // every pass boundary and recorded into the metrics datasheet, so
    // cross-round wall-clock drift (this host shows ±16% windows — see the
    // interleaving comment below) is attributable mechanically: if the
    // committed record slows AND the probe ratio slows alike, it is the
    // host window, not the code. CPU leg: 2^28 splitmix64 steps (pure
    // register arithmetic, no allocation — immune to heap/GC state). IO
    // leg: 128 4-KiB write+force cycles in java.io.tmpdir (the state-store
    // fsync shape). ~1 s total per probe.
    def calibrate(): (Double, Double) = {
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < (1 << 28)) {
        x += 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      val cpuSec = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) System.err.println("[bench] calib sentinel") // defeat DCE
      val f = java.io.File.createTempFile("graft_calib", ".bin")
      val buf = java.nio.ByteBuffer.allocate(4096)
      val t1 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var k = 0
        while (k < 128) {
          buf.clear(); buf.limit(4096)
          ch.position(0); ch.write(buf); ch.force(true)
          k += 1
        }
      } finally { ch.close(); f.delete() }
      val ioSec = (System.nanoTime() - t1) / 1e9
      (cpuSec, ioSec)
    }
    // (boundary index, cpu, io): probe i runs at the boundary BEFORE pass
    // i; one final probe after the last pass carries index = passes-run.
    val calibrations = scala.collection.mutable.ArrayBuffer[(Int, Double, Double)]()
    def probe(boundary: Int): Unit = {
      val (c, io) = calibrate()
      calibrations += ((boundary, c, io))
      System.err.println(f"[bench] calib@$boundary cpu=$c%.3fs fsync128=$io%.3fs")
    }

    // Warm-up: JVM/codegen/parquet-footer caches (own group — must not
    // leak into any query's datasheet).
    run("q16_distinct_flags", "bench-warmup")

    // INTERLEAVED best-of-N (default 3 passes, up to 6): this host shows
    // episodic multi-MINUTE degradation windows (all tasks drop to
    // interpreted speed — verified via jstack/jstat: C2 compiler pegged,
    // previously sub-second queries take 20-60s, then recover). Repeating
    // one query back-to-back lands every repeat inside the same window, so
    // min-of-3 still reports the degraded time. Instead run the FULL
    // catalog once per pass and take each query's min across passes: the
    // query's samples are then spaced a whole pass apart, and a single
    // calm pass anywhere yields calm minima for every query. If no pass
    // was calm (best pass-sum still far above the sum of minima), keep
    // adding passes up to the cap OR until the wall-clock budget runs out,
    // whichever comes first. A query is reported failed (-1) only when it
    // fails in EVERY pass.
    val basePasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_RUNS", "6").toInt
    // HARD wall-clock budget: the driver kills the whole process at its own
    // timeout (observed ~90 min), and a killed bench reports NOTHING — so
    // past the budget we stop starting new work (even mid-pass, once every
    // query has at least one sample) and print the JSON line with whatever
    // minima we have. A partial second pass is strictly better than rc=124.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2700").toDouble
    val startNanos = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - startNanos) / 1e9
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val passTimes = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    // Timings from a pass cut short by the budget: they join the final
    // minima but not the calm-pass vote (a partial pass can't certify).
    // (name, time, passIdx) — the pass index recovers the job group of a
    // winning partial sample for the metrics datasheet.
    val partialSamples = scala.collection.mutable.ArrayBuffer[(String, Double, Int)]()

    // A pass is "calm" iff its sum sits within ~30% of the sum of minima
    // computed from the OTHER passes (a self-comparison is trivially true,
    // which is why pass 1 can never certify itself — it gets re-judged once
    // pass 2 exists). A query that failed in pass i contributes its best
    // known time from the other passes, so failures can't fake calmness; if
    // a query has NO successful sample outside pass i, the check for pass i
    // is skipped entirely.
    def passIsCalm(i: Int): Boolean = {
      if (passTimes.size < 2) return false
      val others = passTimes.indices.filter(_ != i).map(passTimes)
      val minOther = names.map { n =>
        val vs = others.map(_(n)).filter(_ >= 0)
        n -> (if (vs.isEmpty) -1.0 else vs.min)
      }.toMap
      if (minOther.values.exists(_ < 0)) return false
      val cur = passTimes(i)
      val effSum = names.map(n => if (cur(n) >= 0) cur(n) else minOther(n)).sum
      effSum <= 1.3 * minOther.values.sum
    }

    var pass = 0
    var calmSeen = false
    var outOfTime = false
    while (!outOfTime && (pass < basePasses || (pass < maxPasses && !calmSeen))) {
      probe(pass)
      val cur = scala.collection.mutable.LinkedHashMap[String, Double]()
      for (n <- names if !outOfTime) {
        cur(n) = run(n, s"bench-$n#p$pass")
        // Pass 1 always completes (every query needs >= 1 sample); later
        // passes yield mid-pass the moment the budget runs out.
        if (pass >= 1 && elapsed > budgetSec) outOfTime = true
      }
      pass += 1
      if (cur.size == names.size) {
        passTimes += cur.toMap
        calmSeen = passTimes.indices.exists(passIsCalm)
      } else {
        partialSamples ++= cur.map { case (n, t) => (n, t, pass - 1) }
      }
      val passSum = cur.values.filter(_ >= 0).sum
      System.err.println(
        f"[bench] pass $pass sum $passSum%.1fs calm=$calmSeen elapsed=$elapsed%.0fs" +
          (if (cur.size != names.size) s" (partial ${cur.size}/${names.size})" else ""))
      if (elapsed > budgetSec) outOfTime = true
    }
    probe(pass) // post-run boundary: a window opening DURING the last pass shows here
    // (name, min time, winning pass index) — passTimes(i) is pass i (a
    // partial pass can only be the LAST one, so full-pass indices align).
    val resultsWithPass = names.map { n =>
      val vs = passTimes.zipWithIndex.map { case (m, i) => (m(n), i) } ++
        partialSamples.collect { case (`n`, t, p) => (t, p) }
      val ok = vs.filter(_._1 >= 0)
      if (ok.isEmpty) (n, -1.0, -1) else { val best = ok.minBy(_._1); (n, best._1, best._2) }
    }
    val results = resultsWithPass.map { case (n, t, _) => n -> t }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // queries_ok cross-checks the round's correctness artifact: if the
    // verify gate ever reports an empty/implausibly small result map again
    // (round 8's `{}`), this independent count of queries that EXECUTED
    // end-to-end is the contradiction that flags it.
    val nOk = results.count(_._2 >= 0)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries_ok":$nOk,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    Console.out.flush()
    // The round's primary perf artifact must not depend on log-tail
    // capture: at 90+ queries the full JSON line overflows the driver's
    // tail window (round 5 lost q01-q31 to exactly this), so ALSO write it
    // to a stable file in the repo. The file is (over)written every run
    // and committed, making the per-query record loss-proof even when the
    // process is killed right after this point.
    // Output location: full-path overrides (SPARK_GRAFT_BENCH_OUT /
    // SPARK_GRAFT_METRICS_OUT) win; otherwise files land in
    // SPARK_GRAFT_BENCH_OUT_DIR. The default is the process cwd — EXCEPT
    // when cwd is a repo root (a `.git` directory is present): there the
    // default flips to a tmpdir fallback, because every ad-hoc or
    // driver-side pass launched from the repo root was clobbering the
    // committed bench_out.json/bench_metrics.json records (r10 finding). A
    // deliberate record refresh sets SPARK_GRAFT_BENCH_OUT_DIR=.
    // explicitly. The fallback is per-user under java.io.tmpdir: a fixed
    // world-shared /tmp/graft_bench lets another user's run own the files
    // and concurrent users clobber each other. Subset runs
    // (SPARK_GRAFT_BENCH_ONLY set) get a ".subset" suffix so a partial
    // sweep can never overwrite a full one.
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT_DIR",
        if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(".git")))
          java.nio.file.Paths.get(
            sys.props.getOrElse("java.io.tmpdir", "/tmp"),
            s"graft_bench-${sys.props.getOrElse("user.name", "unknown")}").toString
        else "."))
    val subsetSuffix = if (only.isDefined) ".subset" else ""
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(outDir.resolve(s"bench_out$subsetSuffix.json"))
    try {
      val parent = outPath.toAbsolutePath.getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      // The FILE record carries run-provenance fields the one-line stdout
      // contract does not: a record whose pass count and sampling are
      // unknowable cannot be compared across runs. Committed record
      // refreshes copy this file, so every future record self-describes its
      // sampling. The stdout line above stays byte-identical — the driver
      // parses it.
      val fileJson = json.stripSuffix("}") +
        s""","passes":${passTimes.size},"partial_pass":${partialSamples.nonEmpty},""" +
        s""""timeout_s":$queryTimeoutSec,"budget_s":${budgetSec.toLong},"cpus":${Graft.defaultCores}}"""
      java.nio.file.Files.writeString(outPath, fileJson + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] bench_out write failed: $e") }
    // stderr gets ONLY a compact line (total + 10 slowest): a 90-query
    // line on stderr is what overflowed the tail window; the compact form
    // always fits and names the file carrying the full record.
    val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) =>
        // Locale.ROOT — a comma-decimal JVM locale would make this record
        // unparseable, the exact loss mode the compact line guards against
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      }.mkString("{", ",", "}")
    System.err.println(
      s"""{"metric":"total","value":$total,"unit":"sec","slowest10":$slow,"sf":"$sfDir","full":"$outPath"}""")
    System.err.flush()
    // Metrics datasheet: drain the async listener bus by POLLING until the
    // task count stabilizes (a fixed sleep silently truncates the tail of
    // the sheet inside this host's documented degradation windows).
    var seen = -1L
    var stable = 0
    val drainDeadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (stable < 3 && System.nanoTime() < drainDeadline) {
      Thread.sleep(200)
      val now = metrics.totalTasksSeen()
      if (now == seen) stable += 1 else { stable = 0; seen = now }
    }
    if (stable < 3)
      System.err.println("[bench] metrics bus still draining at deadline — sheet may undercount tail tasks")
    // Each query's sheet = its WINNING pass's execution only (one clean
    // run, same semantics as the min-across-passes timing beside it).
    val metricsPath = sys.env.get("SPARK_GRAFT_METRICS_OUT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(outDir.resolve(s"bench_metrics$subsetSuffix.json"))
    val selection = resultsWithPass.collect {
      case (n, t, p) if t >= 0 => s"bench-$n" -> s"bench-$n#p$p"
    }
    try {
      val parent = metricsPath.toAbsolutePath.getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      // "calibration" leads the sheet: one probe per pass boundary (index
      // i ran before pass i; the last entry is the post-run probe), so a
      // committed record carries its own host-speed evidence.
      val calibJson = calibrations.map { case (b, c, io) =>
        String.format(java.util.Locale.ROOT,
          """{"boundary":%d,"cpu_sec":%.4f,"fsync128_sec":%.4f}""",
          Integer.valueOf(b), Double.box(c), Double.box(io))
      }.mkString("[", ",", "]")
      val sheet = metrics.selectedJson(selection,
        leading = Seq("calibration" -> calibJson))
      java.nio.file.Files.writeString(metricsPath, sheet + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] metrics write failed: $e") }
    spark.stop()
  }
}
