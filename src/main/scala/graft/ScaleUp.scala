package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal dataset generator: replicates an sf-directory `factor`×
  * with consistent key remapping, writing a dataset one decade above bench
  * scale (sf0.1 × 10 ≈ sf1) so the catalog can be rehearsed for nonlinear
  * surprises (pair blowups, driver pulls that grow with data) before they
  * matter at 100 TB.
  *
  * Replication is NOT naive row copying — that would plant artifacts the
  * real distribution doesn't have and invalidate exactly the queries the
  * rehearsal exists to test:
  *  - every key domain is shifted per copy (stride = max+1), so FK joins
  *    stay consistent and id-contiguity contracts (hardNegatives) hold;
  *  - fuzzy-matched strings (names) get per-copy tags with pairwise edit
  *    distance ≥ 2, so the ER/linkage tier sees 10× independent data, not
  *    10-cliques of planted duplicates;
  *  - document tokens get per-copy lowercase suffixes (vocabulary and
  *    shingle space scale ×factor; [a-z]+ purity preserved for the BPE
  *    vocab), so dedup candidate sets scale like independent corpora;
  *  - embeddings get a small deterministic per-copy offset, so ANN tiers
  *    don't see exact-duplicate neighbor columns.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> [factor]
  */
object ScaleUp {

  /** Per-copy tags, pairwise edit distance ≥ 2 (distinct in both chars) —
    * copy 0 is untagged. */
  private val tags =
    Array("", "qx", "wz", "mk", "pj", "vd", "gt", "rn", "bs", "lf",
      "ch", "dm", "en", "fy", "ga", "hb", "ic", "jd", "ke", "lg")

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1 && factor < tags.length,
      s"factor must be in [1, ${tags.length - 1}], got $factor")
    val spark = Graft.session("graft-scaleup")

    def rd(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      System.err.println(s"[scaleup] $t written")
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    // dims stay fixed (nation/region are enums, like TPC-H scaling)
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    val cust = rd("customer")
    val supp = rd("supplier")
    val part = rd("part")
    val ord = rd("orders")
    val li = rd("lineitem")
    val ev = rd("events")
    val docs = rd("documents")
    val emb = rd("embeddings")
    // c_custkey and events.user_id are ONE key domain (the q140 RI sweep
    // measures events->customer coverage): they must shift by the SAME
    // stride or sf1's orphan ratios drift from sf0.1's — and the stride
    // must clear BOTH maxima or one copy's orphan users would collide
    // with another copy's customers.
    val (ss, sp, so) =
      (stride(supp, "s_suppkey"), stride(part, "p_partkey"),
        stride(ord, "o_orderkey"))
    val sc = math.max(stride(cust, "c_custkey"), stride(ev, "user_id"))
    val se = stride(ev, "event_id")
    val su = sc
    val sd = stride(docs, "doc_id")
    val sv = stride(emb, "vec_id")

    def copies(build: Int => DataFrame): DataFrame =
      (0 until factor).map(build).reduce(_.unionByName(_))

    def tagged(c: String, i: Int) =
      if (i == 0) col(c) else concat(col(c), lit(" " + tags(i)))

    wr(copies(i => cust.select(
      (col("c_custkey") + lit(i * sc)).as("c_custkey"),
      tagged("c_name", i).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))), "customer")

    wr(copies(i => supp.select(
      (col("s_suppkey") + lit(i * ss)).as("s_suppkey"),
      tagged("s_name", i).as("s_name"),
      col("s_nationkey"), col("s_acctbal"))), "supplier")

    wr(copies(i => part.select(
      (col("p_partkey") + lit(i * sp)).as("p_partkey"),
      tagged("p_name", i).as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))), "part")

    wr(copies(i => ord.select(
      (col("o_orderkey") + lit(i * so)).as("o_orderkey"),
      (col("o_custkey") + lit(i * sc)).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))), "orders")

    wr(copies(i => li.select(
      (col("l_orderkey") + lit(i * so)).as("l_orderkey"),
      (col("l_partkey") + lit(i * sp)).as("l_partkey"),
      (col("l_suppkey") + lit(i * ss)).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"))), "lineitem")

    wr(copies(i => ev.select(
      (col("event_id") + lit(i * se)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(i * su)).as("user_id"),
      col("event_type"), col("value"), col("props"))), "events")

    // per-copy lowercase token suffix: vocabulary/shingle space scale with
    // the corpus instead of planting exact-duplicate 10-cliques
    wr(copies { i =>
      val text =
        if (i == 0) col("text")
        else concat_ws(" ",
          transform(split(col("text"), "\\s+"), t => concat(t, lit(tags(i)))))
      docs.select(
        (col("doc_id") + lit(i * sd)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }, "documents")

    // deterministic small per-copy offset, floats stay floats
    wr(copies { i =>
      val vec =
        if (i == 0) col("embedding")
        else transform(col("embedding"),
          (x, j) => (x + lit(i * 0.0011) * ((j % 5) - lit(2)).cast("double"))
            .cast("float"))
      emb.select(
        (col("vec_id") + lit(i * sv)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }, "embeddings")

    spark.stop()
  }
}
