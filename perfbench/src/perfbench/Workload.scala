package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.pipeline.MilanPipeline
import graft.sources.{GeoJsonFixture, GeoJsonSource, MilanCsvSource}

/** One timed operation; `run` returns whether its result checked out. */
final case class Op(name: String, run: () => Boolean)

trait Workload {
  /** Where the first warm-up pass writes outputs for the oracle compare. */
  def checkDir: String
  /** One untimed pass; with `check`, also record the expected results. */
  def warmUp(spark: SparkSession, check: Boolean): Unit
  /** The operations of timed iteration `iter`, in execution order. */
  def iteration(spark: SparkSession, iter: Int): Seq[Op]
  /** Replace every expected digest with a wrong one (self-test). */
  def corruptExpected(): Unit
  /** Stand-alone per-layer probes, run once after the timed loop. */
  def layerProbes(spark: SparkSession): Map[String, Double]
  /** Workload-specific per-layer metrics of the traced iterations. */
  def layerMetrics(res: Results): Map[String, Double]
}

object Workload {

  /** Catalog query sets, each query with the layer its call lands in:
    * `plans` (single-pass kernels and operators), `loops` (driver-sequential
    * iterative operators) or `streaming` (real-engine streaming rows). */
  private val core = Seq(
    "q01_pricing_summary", "q02_hourly_rollup", "q03_top_users", "q12_top_orders",
    "q13_region_revenue", "q14_window_top3", "q17_constraint_audit", "q26_minhash_sig",
    "q28_knn_exact", "q37_percentiles", "q43_minhash_lsh", "q75_hll_distinct",
    "q88_analyze_stats", "q100_fused_summary", "q149_decile_table").map(_ -> "plans")
  private val iterative = Seq(
    "q58_dup_clusters", "q61_dedup_cleaned", "q129_pagerank_hubs", "q141_simjoin_prefix",
    "q147_triangle_counts", "q148_kcore", "q185_pq_ann", "q187_ivfpq_ann",
    "q188_bpe_train").map(_ -> "loops")
  private val streaming = Seq(
    "q38_streaming_hourly", "q164_stream_file_rollup", "q174_stream_real_sessions",
    "q191_stream_real_distinct", "q195_stream_real_join", "q200_stream_real_dedup",
    "q206_stream_rocksdb_dedup", "q207_stream_rocksdb_join",
    "q208_stream_rocksdb_sessions").map(_ -> "streaming")
  private def pick(from: Seq[(String, String)], names: String*): Seq[(String, String)] =
    names.map(n => from.find(_._1 == n).getOrElse(sys.error(s"no query $n")))

  val catalogs: Map[String, Seq[(String, String)]] = Map(
    // One cross-section of the three sets below, sized so that a run fits
    // the benchmark's time budget: the hourly rollup, the exact-KNN kernel,
    // the BPE training loop, and one heap and one RocksDB stream. (Top-k and
    // the constraint audit run in milan_etl.)
    "catalog_mix" -> (pick(core, "q02_hourly_rollup", "q28_knn_exact") ++
      pick(iterative, "q188_bpe_train") ++
      pick(streaming, "q164_stream_file_rollup", "q206_stream_rocksdb_dedup")),
    "catalog_core" -> core,
    "catalog_iterative" -> iterative,
    "streaming_drain" -> streaming)

  def apply(o: Main.Opts): Workload = o.workload match {
    case "milan_etl" => new MilanEtl(o)
    case w if catalogs.contains(w) => new Catalog(o, catalogs(w))
    case w => sys.error(s"unknown workload '$w'")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def fileBytes(p: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L) else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally walk.close()
    }

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    val all = try walk.iterator().asScala.toSeq finally walk.close()
    all.reverse.foreach(Files.deleteIfExists)
  }

  /** The graft kernel columns alone over `documents`/`embeddings`, forced
    * through the noop sink; median of three passes. */
  def kernelProbe(spark: SparkSession, dataDir: String): Double = {
    import graft.plans.GraftFunctions._
    val docs = graft.Tables.documents(spark, dataDir)
    val emb = graft.Tables.embeddings(spark, dataDir)
    val e = col("embedding")
    median((1 to 3).map(_ => timed {
      noop(docs.select(nfcNormalize(col("text")), htmlUnescape(col("text")),
        preSentinels(col("text"))))
      noop(emb.select(cosineFast(e, e), dotExactDec(e, e), l2SqExactDec(e, e)))
    }))
  }
}

/** Order-independent digest over every output column: row count plus the
  * exact sum of per-row xxhash64 values. Computing it forces every column,
  * as the noop sink does. */
object Digest {
  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}

/** Catalog queries over the fixed sf tables; the seed permutes the order
  * within each iteration. */
final class Catalog(o: Main.Opts, layered: Seq[(String, String)]) extends Workload {
  private val queries = layered.map(_._1)
  private val layerOf = layered.toMap
  val checkDir: String = s"${o.workDir}/check-${o.workload}"
  private val expected = mutable.Map.empty[String, String]

  private def query(spark: SparkSession, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, o.dataDir)

  def warmUp(spark: SparkSession, check: Boolean): Unit = {
    if (check) {
      Files.createDirectories(Paths.get(checkDir))
      val oracles = queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _))
      Files.writeString(Paths.get(checkDir, "oracle_sql.json"),
        Json.obj(oracles.map { case (q, sql) => q -> Json.str(sql) }: _*))
    }
    queries.foreach(warmUpQuery(spark, _, check))
  }

  private def warmUpQuery(spark: SparkSession, name: String, check: Boolean): Unit =
    try {
      val df = query(spark, name)
      if (check) {
        val path = s"$checkDir/$name"
        df.coalesce(1).write.mode("overwrite").parquet(path)
        expected(name) = Digest.of(spark.read.parquet(path))
      } else Digest.of(df)
    } catch {
      case e: Exception => System.err.println(s"[perfbench] warm-up $name failed: $e")
    }

  def iteration(spark: SparkSession, iter: Int): Seq[Op] =
    new scala.util.Random(o.seed * 1000003L + iter).shuffle(queries).map { name =>
      Op(name, () => {
        val df = Tracer.call("SparkEntry.queries", layerOf(name))(query(spark, name))
        val d = Tracer.call("digest", "operators")(Digest.of(df))
        expected.get(name).contains(d)
      })
    }

  def corruptExpected(): Unit = expected.keys.toSeq.foreach(k => expected(k) = "corrupt")

  def layerProbes(spark: SparkSession): Map[String, Double] = {
    import graft.Tables
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    val scan = Workload.median((1 to 3).map(_ => Workload.timed(
      loaders.foreach { case (_, load) => Workload.noop(load(spark, o.dataDir)) })))
    val rows = loaders.map { case (_, load) => load(spark, o.dataDir).count() }.sum.toDouble
    val bytes = loaders.map { case (t, _) =>
      Workload.fileBytes(Paths.get(Tables.path(o.dataDir, t)))._1 }.sum.toDouble
    Map("sources.scan_s" -> scan, "sources.input_rows" -> rows,
      "sources.input_bytes" -> bytes, "sources.rows_per_s" -> rows / scan,
      "plans.kernel_s" -> Workload.kernelProbe(spark, o.dataDir))
  }

  def layerMetrics(res: Results): Map[String, Double] = Map.empty
}

/** The reference pipeline (`main.py --all`) over generated day-files:
  * each iteration starts from an empty warehouse, ingests N−1 day-files
  * per table, appends the last, re-runs the load (a ledger no-op), then
  * answers top-cells and the constraint audit. */
final class MilanEtl(o: Main.Opts) extends Workload {
  val checkDir: String = s"${o.workDir}/check-milan_etl"
  private val manifest: Map[String, Long] = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(o.milanDir, "expected.properties"))
    try p.load(in) finally in.close()
    p.asScala.map { case (k, v) => k -> v.trim.toLong }.toMap
  }
  private val nFiles = manifest("n_files").toInt
  private val dataDir = o.milanDir
  private val wh = Paths.get(o.workDir, "milan-wh")
  private val provincesPath = GeoJsonFixture.write(Paths.get(o.workDir, "milan-dims"),
    "Italian_provinces.geojson",
    GeoJsonFixture.provincesJson((0L until 36L).filter(_ % 12 != 9)))
  private val trafficGlob = "sms-call-internet-mi-*.csv"
  private val mobilityGlob = "mi-to-provinces-*.csv"
  private var expectedTop: Option[String] = None
  private var discovered = 0L
  private var ingested = 0L

  private def ops(spark: SparkSession, recordTop: Boolean): Seq[Op] = {
    Workload.deleteRecursively(wh)
    val pipe = new MilanPipeline(spark, wh.toString)
    val provinces = GeoJsonSource.provinces(spark, provincesPath)
    def call[A](name: String)(f: => A): A = Tracer.call(name, "pipeline")(f)
    // Counts the files each load discovers and those it ingests; the ledger
    // skips the rest.
    def load(traffic: Boolean, limit: Option[Int] = None): Int = {
      discovered += MilanCsvSource.discover(dataDir, if (traffic) trafficGlob else mobilityGlob,
        limit).size
      val n =
        if (traffic) call("loadTraffic")(pipe.loadTraffic(dataDir, limitFiles = limit))
        else call("loadMobility")(pipe.loadMobility(dataDir, provinces, limitFiles = limit))
      ingested += n
      n
    }
    Seq(
      Op("load_traffic", () => load(traffic = true, Some(nFiles - 1)) == nFiles - 1),
      Op("load_mobility", () => load(traffic = false, Some(nFiles - 1)) == nFiles - 1),
      Op("append", () => {
        val t = load(traffic = true)
        val m = load(traffic = false)
        val rows = call("factCounts")((pipe.trafficFact.count(), pipe.mobilityFact.count()))
        t == 1 && m == 1 &&
          rows == ((manifest("traffic_fact_rows"), manifest("mobility_fact_rows")))
      }),
      Op("ledger_skip", () => load(traffic = true) == 0 && load(traffic = false) == 0),
      Op("top_cells", () => {
        val top = call("topCells")(pipe.topCells())
        if (recordTop) {
          val path = s"$checkDir/top_cells"
          top.coalesce(1).write.mode("overwrite").parquet(path)
          expectedTop = Some(Digest.of(spark.read.parquet(path)))
        }
        expectedTop.contains(Tracer.call("digest", "operators")(Digest.of(top)))
      }),
      Op("audit", () =>
        call("auditConstraints")(pipe.auditConstraints().collect())
          .forall(_.getAs[Long]("violations") == 0L)))
  }

  def warmUp(spark: SparkSession, check: Boolean): Unit =
    ops(spark, recordTop = check).foreach { op =>
      val ok = try op.run() catch { case e: Exception =>
        System.err.println(s"[perfbench] warm-up ${op.name} failed: $e"); false }
      if (!ok) System.err.println(s"[perfbench] warm-up ${op.name} did not check out")
    }

  def iteration(spark: SparkSession, iter: Int): Seq[Op] = ops(spark, recordTop = false)

  def corruptExpected(): Unit = expectedTop = Some("corrupt")

  private def csvBytes: Double =
    (MilanCsvSource.discover(dataDir, trafficGlob) ++ MilanCsvSource.discover(dataDir, mobilityGlob))
      .map(f => Files.size(Paths.get(f))).sum.toDouble

  def layerProbes(spark: SparkSession): Map[String, Double] = {
    val traffic = MilanCsvSource.discover(dataDir, trafficGlob)
    val mobility = MilanCsvSource.discover(dataDir, mobilityGlob)
    val scan = Workload.median((1 to 3).map(_ => Workload.timed {
      Workload.noop(MilanCsvSource.traffic(spark, traffic))
      Workload.noop(MilanCsvSource.mobility(spark, mobility))
    }))
    val rows = (manifest("traffic_rows") + manifest("mobility_rows")).toDouble
    Map("sources.scan_s" -> scan, "sources.input_rows" -> rows,
      "sources.input_bytes" -> csvBytes, "sources.rows_per_s" -> rows / scan,
      "plans.kernel_s" -> Workload.kernelProbe(spark, o.dataDir))
  }

  def layerMetrics(res: Results): Map[String, Double] = {
    def stage(n: String) = Workload.median(res.samples.collect { case (`n`, s, _) => s }.toSeq)
    val (outBytes, outFiles) = Workload.fileBytes(wh, _.toString.endsWith(".parquet"))
    val rows = (manifest("traffic_rows") + manifest("mobility_rows")).toDouble
    val ingest = stage("load_traffic") + stage("load_mobility") + stage("append")
    Map(
      "pipeline.load_traffic_s" -> stage("load_traffic"),
      "pipeline.load_mobility_s" -> stage("load_mobility"),
      "pipeline.append_s" -> stage("append"),
      "pipeline.ledger_skip_s" -> stage("ledger_skip"),
      "pipeline.top_cells_s" -> stage("top_cells"),
      "pipeline.audit_s" -> stage("audit"),
      "pipeline.output_bytes" -> outBytes.toDouble,
      "pipeline.output_files" -> outFiles.toDouble,
      "pipeline.files_ingested_per_discovered" -> ingested.toDouble / discovered,
      "etl_rows_per_s" -> rows / ingest,
      "stored_bytes_per_input_byte" -> outBytes / csvBytes)
  }
}
