package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over `src/main/scala`: the engine reads exactly the
  * settings listed here, and builds sessions only in [[Graft.session]].
  * A new knob or a second session builder must be added here on purpose. */
class KnobGuardSpec extends AnyFunSuite {

  /** Every environment variable or system property a user may set. */
  private val Settings = Set(
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_BENCH_QUERY_TIMEOUT_SEC",
    "SPARK_GRAFT_BENCH_RUNS",
    "SPARK_GRAFT_BENCH_MAX_RUNS",
    "SPARK_GRAFT_BENCH_BUDGET_SEC",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_OUT_DIR",
    "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_METRICS_OUT",
    "SPARK_GRAFT_VERIFY_QUERY_TIMEOUT_SEC",
    "SPARK_GRAFT_VERIFY_ONLY",
    "SPARK_GRAFT_VERIFY_PARALLEL",
    "graft.simjoin.shj.min.pairs")

  /** Properties the JVM or Spark's launcher sets; read, never engine knobs. */
  private val Platform = Set("java.io.tmpdir", "user.name", "spark.local.dir")

  private val Read = """(sys\.env|sys\.props|System\.getenv|System\.getProperty)"""
  private val LiteralRead =
    (Read + """(\s*\.\s*(get|getOrElse|contains))?\s*\(\s*"([^"]+)"""").r

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("the engine reads exactly the allowed settings, each by a literal key") {
    assert(Settings.size == 14)
    val reads = sources.flatMap { case (p, s) => Read.r.findAllIn(s).map(_ => p) }
    val literal = sources.flatMap { case (p, s) =>
      LiteralRead.findAllMatchIn(s).map(m => p -> m.group(4)).toList }
    // A read whose key is not a string literal would slip past the list.
    assert(literal.size == reads.size,
      s"non-literal reads in ${reads.diff(literal.map(_._1)).distinct}")
    assert(literal.map(_._2).toSet == Settings ++ Platform)
  }

  test("SparkSession.builder occurs only in Graft.scala") {
    val builders = sources.collect {
      case (p, s) if """SparkSession\s*\.\s*builder""".r.findFirstIn(s).isDefined =>
        p.getFileName.toString
    }
    assert(builders == Seq("Graft.scala"))
  }
}
