package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every catalog query (optionally filtered to `only`) under
    * `outDir/<name>/`; returns (okCount, failedCount). Factored out of
    * [[main]] so the empty-output tripwire below is spec-testable. */
  def runAll(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      only: Option[Set[String]],
      parallelism: Int): (Int, Int) = {
    new java.io.File(outDir).mkdirs()
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    // Per-query watchdog (the Bench pattern): ONE hung query must cost the
    // gate one row, not the whole round — un-timed, it would park its pool
    // thread forever, block the final get(), and ride the JVM into the
    // driver's kill (partial dirs, correctness artifact lost).
    val queryTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_QUERY_TIMEOUT_SEC", "600").toLong
    // Queries run PARALLEL_Q at a time (Spark's scheduler is thread-safe and
    // each query writes its own directory): at sf0.01 most queries are
    // scheduler-bound, not core-bound, so overlapping them cuts wall-clock
    // ~3x — insurance against the host's episodic slow windows landing the
    // whole sequential sweep past the driver's timeout.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val group = s"verify-$name"
            @volatile var err: Throwable = null
            val worker = new Thread(() => {
              try {
                spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
                fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                  .parquet(s"$outDir/$name")
              } catch { case e: Throwable => err = e }
              finally spark.sparkContext.clearJobGroup()
            }, group)
            worker.setDaemon(true)
            worker.start()
            worker.join(queryTimeoutSec * 1000)
            if (worker.isAlive) {
              failed.incrementAndGet()
              System.err.println(
                s"[verify] $name TIMED OUT after ${queryTimeoutSec}s — cancelling")
              spark.sparkContext.cancelJobGroup(group)
              worker.join(30000)
            } else if (err != null) {
              failed.incrementAndGet()
              System.err.println(s"[verify] $name failed: ${err.getMessage}")
            } else {
              ok.incrementAndGet()
              System.err.println(s"[verify] $name ok")
            }
          }
        })
      }
    // shutdown in finally: the pool's threads are non-daemon, so an
    // exception escaping the awaits (e.g. interrupt) would otherwise leave
    // the JVM alive after main — the exact driver-timeout/lost-round mode
    // this parallelization exists to prevent.
    try tasks.foreach(_.get())
    finally pool.shutdownNow()
    (ok.get(), failed.get())
  }

  /** Tripwire: a verify run that produced ZERO query directories must fail
    * LOUDLY, never let the round's gate artifact silently become `{}`
    * (round 8 lost its entire correctness record to exactly that — an
    * empty results map is indistinguishable from a round where everything
    * broke). */
  def requireNonEmpty(okCount: Int): Unit =
    require(okCount > 0,
      "verify wrote ZERO query outputs — the gate artifact would be an " +
        "empty map; failing loudly instead (check sfDir/outDir paths and " +
        "per-query stderr above)")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.session("graft-verify")
    // Local-iteration subset: SPARK_GRAFT_VERIFY_ONLY=q117_x,q118_y dumps
    // just those queries (local_verify.py compares whatever dirs exist).
    // The driver never sets it, so the gate always sees the full catalog.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val parallelism = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PARALLEL", "4").toInt
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // Oracle dump FIRST, before any query runs: if the driver kills a slow
    // dump mid-flight, whatever query dirs landed are still comparable —
    // written last, a kill would leave partial dirs with NO oracle file
    // and the compare would lose the whole round (the r8 failure class).
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val (okCount, failedCount) = runAll(spark, sfDir, outDir, only, parallelism)
    System.err.println(
      s"[verify] done: $okCount ok, $failedCount failed, " +
        s"${SparkEntry.queries.size} in catalog")
    spark.stop()
    // After spark.stop() and the oracle dump, so a tripped wire still
    // leaves whatever partial evidence exists on disk for inspection.
    requireNonEmpty(okCount)
  }
}
