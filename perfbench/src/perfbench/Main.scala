package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's engine-side program: one closed-loop client over one
  * workload.
  *
  *   1. Host probe (Spark-free CPU loop).
  *   2. Set-up, timed as one span: local session, `Graft.prepare`, the cold
  *      pass over the workload, then `warmUps` warm passes. The cold pass
  *      also writes every checked output for the oracle compare and records
  *      the expected digests. A JVM is cold only once, so a run has one
  *      set-up.
  *   3. Timed loop: whole iterations until `seconds` have passed (at least
  *      `minIters`), one operation at a time; every operation is checked.
  *   4. With `--trace 1`, every other iteration runs with the tracer
  *      attached; the per-layer probes follow the loop.
  *   5. One untimed iteration with a full collection after each operation
  *      for the heap peak; host probe again; results go to `--out` as one
  *      JSON object.
  *
  * Usage: perfbench.Main --workload W --seed S --seconds T --trace 0|1
  *          --data DIR --milan DIR --work DIR --out FILE [--cores N]
  *          [--warm-ups N] [--min-iters N] [--corrupt-digest]
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      dataDir: String, milanDir: String, workDir: String, out: String,
      cores: Int, warmUps: Int, minIters: Int, corruptDigest: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = req("workload"), seed = req("seed").toLong,
      seconds = req("seconds").toDouble, trace = req("trace") == "1",
      dataDir = req("data"), milanDir = req("milan"), workDir = req("work"),
      out = req("out"), cores = kv.getOrElse("cores", "4").toInt,
      warmUps = kv.getOrElse("warm-ups", "2").toInt,
      minIters = kv.getOrElse("min-iters", "3").toInt,
      corruptDigest = args.contains("--corrupt-digest"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.workDir}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.prepare(spark)
  }

  private def now(): Double = System.nanoTime() / 1e9

  /** The timed loop: whole iterations until `seconds` pass and at least
    * `minIters` ran. With a tracer, odd iterations run traced and even ones
    * untraced, so that both see the same warm-up and host window. */
  private def loop(spark: SparkSession, wl: Workload, o: Opts, tracer: Option[Tracer],
                   untraced: Results, traced: Results): Unit = {
    val t0 = now()
    var iter = 0
    def enough = now() - t0 >= o.seconds &&
      untraced.iterations + traced.iterations >= o.minIters &&
      (tracer.isEmpty || traced.iterations >= 1)
    while (!enough) {
      val active = tracer.filter(_ => iter % 2 == 1)
      val res = if (active.isDefined) traced else untraced
      val ops = wl.iteration(spark, iter)
      active.foreach(_.attach())
      val start = now()
      ops.foreach { op =>
        val s = now()
        val ok =
          try active.fold(op.run())(_.op(op.name)(op.run()))
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} failed: $e"); false }
        res.sample(op.name, now() - s, ok)
      }
      val wall = now() - start
      active.foreach { t => t.drain(); t.detach() }
      res.iteration(wall)
      iter += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.workDir))
    val probeStart = Probe.cpuSeconds()
    val wl = Workload(o)

    val t0 = now()
    val spark = session(o)
    val t1 = now()
    wl.warmUp(spark, check = true)
    val t2 = now()
    (1 to o.warmUps).foreach(_ => wl.warmUp(spark, check = false))
    val setup = now() - t0
    System.err.println(f"[perfbench] set-up ${setup}%.2f s: session ${t1 - t0}%.2f s, " +
      f"cold pass ${t2 - t1}%.2f s, ${o.warmUps} warm passes ${now() - t2}%.2f s")
    if (o.corruptDigest) wl.corruptExpected()

    val untraced = new Results
    val traced = new Results
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    loop(spark, wl, o, tracer, untraced, traced)
    val heapMb = Heap.peakMb(wl.iteration(spark, untraced.iterations + traced.iterations))
    val layers = tracer.map { t =>
      val probes = wl.layerProbes(spark)
      (t, t.metrics(traced.iterations, wl.layerMetrics(traced) ++ probes))
    }
    spark.stop()
    val probeEnd = Probe.cpuSeconds()

    val out = Json.obj(
      "workload" -> Json.str(o.workload),
      "seed" -> Json.num(o.seed.toDouble),
      "setup_s" -> Json.num(setup),
      "probe_start_s" -> Json.num(probeStart),
      "probe_end_s" -> Json.num(probeEnd),
      "check_dir" -> Json.str(wl.checkDir),
      "heap_mb" -> Json.num(heapMb),
      "untraced" -> untraced.toJson,
      "traced" -> layers.fold("null") { case (t, metrics) =>
        Json.obj(
          "results" -> traced.toJson,
          "layers" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
          "trace_file" -> Json.str(t.write(s"${o.workDir}/trace-${o.workload}-${o.seed}.json")))
      })
    Files.writeString(Paths.get(o.out), out + "\n")
  }
}

/** Per-operation samples (name, seconds, checked out) and per-iteration
  * walls of one timed loop. */
final class Results {
  val samples = ArrayBuffer.empty[(String, Double, Boolean)]
  val walls = ArrayBuffer.empty[Double]

  def sample(name: String, sec: Double, ok: Boolean): Unit = samples += ((name, sec, ok))
  def iteration(wall: Double): Unit = walls += wall
  def iterations: Int = walls.size

  def toJson: String = Json.obj(
    "walls" -> Json.arr(walls.map(Json.num).toSeq),
    "samples" -> Json.arr(samples.map { case (n, s, ok) =>
      Json.arr(Seq(Json.str(n), Json.num(s), ok.toString)) }.toSeq))
}

/** Spark-free CPU probe: the splitmix64 loop of `graft.Bench.calibrate`,
  * sized to ~0.05 s; the minimum of ten repeats. */
object Probe {
  def cpuSeconds(): Double = (1 to 10).map { _ =>
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 25)) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("[perfbench] probe sentinel") // keeps the loop live
    sec
  }.min
}

/** Peak old-generation occupancy after garbage collection, taken over one
  * untimed iteration after the timed loop: a full collection follows every
  * operation, and the highest reading counts, together with one taken
  * before the first operation. State an operation leaves for the next one
  * (the Milan warehouse, streaming state stores, cached plans) shows even
  * when the iteration frees it at its end. Collections forced inside the
  * timed loop would perturb its times; and the loop's own collections do not
  * measure retained state: on G1 the old pool is read after a young
  * collection only, with whatever garbage was promoted and whatever large
  * buffers were in flight at that moment. */
object Heap {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def oldGenAfterGcMb(): Double = {
    // Two collections around a pause: the first lets Spark's context
    // cleaner release what only weak references still hold.
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed.toDouble).sum / (1 << 20)
  }

  def peakMb(ops: Seq[Op]): Double = {
    val readings = oldGenAfterGcMb() +: ops.map { op =>
      val ok = try op.run() catch { case e: Exception =>
        System.err.println(s"[perfbench] heap pass ${op.name} failed: $e"); false }
      if (!ok) System.err.println(s"[perfbench] heap pass ${op.name} did not check out")
      oldGenAfterGcMb()
    }
    System.err.println("[perfbench] old gen after GC, MB: " +
      readings.map(r => f"$r%.1f").mkString(" "))
    readings.max
  }
}

/** Minimal JSON writer (no dependency beyond the JDK). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
