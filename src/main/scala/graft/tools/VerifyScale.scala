package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._

/** Engine-internal correctness invariants for scale factors where a
  * full DuckDB oracle replay is impractical (sf10's heavy-query
  * oracles — recursive CTEs, 64-way UNNEST minhash — run for hours).
  * Each check is a DIFFERENTIAL the engine can prove about itself:
  * two independent execution paths of the same semantics must agree
  * bit-for-bit, or an algebraic property (idempotence, partitioning
  * invariance, incremental ≡ full) must hold exactly. These are the
  * invariants the partitioning/property specs pin at test scale, run
  * against the real big-SF tables.
  *
  * Prints one PASS/FAIL line per check; exits nonzero on any FAIL.
  */
object VerifyScale {

  private var failures = 0

  private def check(name: String)(body: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[verifyscale] $name threw: ${e.getMessage}")
        false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (!ok) failures += 1
    println(f"[verifyscale] ${if (ok) "PASS" else "FAIL"}%-4s $name%-46s ${dt}%.1fs")
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    // order-free exact comparison via per-row hash aggregation — no
    // driver-side collect of big outputs
    def digest(df: DataFrame) = df
      .select(md5(to_json(struct(df.columns.sorted.map(col): _*))).as("h"))
      .agg(count(lit(1)).as("n"),
        sum(conv(substring(col("h"), 1, 14), 16, 10).cast("decimal(38,0)")).as("s"))
      .first()
    val (da, db) = (digest(a), digest(b))
    da.getLong(0) == db.getLong(0) && da.getDecimal(1) == db.getDecimal(1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir).localCheckpoint(false)
    val li = Tables.lineitem(spark, sfDir)

    check("minhash LSH is partitioning-invariant (7 vs 13)") {
      def run(parts: Int) = Dedup.minhashDedup(docs.repartition(parts),
        "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5,
        mode = Dedup.Fast)
      sameRows(run(7), run(13))
    }

    check("near-dup collapse: distributed CC == driver union-find") {
      val pairs = Dedup.minhashDedup(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5, mode = Dedup.Fast)
        .select("id_a", "id_b").localCheckpoint(false)
      val ids = docs.select("doc_id")
      sameRows(
        Dedup.collapseNearDuplicates(ids, pairs, "doc_id"),
        Dedup.collapseNearDuplicates(ids, pairs, "doc_id", maxLocalEdges = 0L))
    }

    check("incremental agg == full recompute") {
      val keys = Seq("l_returnflag", "l_linestatus")
      val even = li.filter(col("l_orderkey") % 2 === 0)
      val odd = li.filter(col("l_orderkey") % 2 === 1)
      val incremental = IncrementalAgg.merge(
        IncrementalAgg.partial(even, keys, "l_quantity"), odd, keys, "l_quantity")
      sameRows(incremental, IncrementalAgg.partial(li, keys, "l_quantity"))
    }

    check("winnowing fingerprints are partitioning-invariant") {
      def run(parts: Int) = TextAnalysis.winnowFingerprints(
        docs.repartition(parts), "doc_id", "text", k = 5, w = 4)
      sameRows(run(5), run(11))
    }

    check("exact dedup: survivors == distinct fingerprints, layout-free") {
      def run(parts: Int) =
        Dedup.dropExactDuplicates(docs.repartition(parts), "doc_id", "text")
      val survivors = run(6)
      val distinctFp =
        docs.select(TextAnalysis.fingerprint(col("text"))).distinct().count()
      // survivor count must equal the distinct-content count, and the
      // survivor SET must not depend on input layout
      survivors.count() == distinctFp && sameRows(survivors, run(14))
    }

    check("identity resolve is idempotent across a registry rerun") {
      import graft.operators.IdentityResolver
      val registry = graft.queries.IdentityQueries.registry(spark, sfDir)
      // center is a FUNCTION of the identifier: requests sharing an id
      // must agree on center, or the rerun legitimately raises center
      // conflicts against whichever center won the mint (that
      // conflicting shape is covered by q_identity_rerun's guard; this
      // invariant isolates the match-first no-op property)
      val batch = Tables.customer(spark, sfDir).select(
        col("c_custkey").as("request_id"),
        ((col("c_custkey") % 5000) % 25 + 1).cast("int").as("center_id"),
        concat(lit("RR-"), (col("c_custkey") % 5000).cast("string"))
          .as("local_subject_id"),
        lit("primary").as("identifier_type"))
      val day = java.sql.Date.valueOf("2024-07-01")
      def applyOnce(reg: IdentityResolver.Registry): IdentityResolver.Registry = {
        val res = IdentityResolver.resolve(batch, reg, deterministicMint = true,
          groupingIterations = 1).localCheckpoint(false)
        val lk = IdentityResolver.links(batch, res, reg.localIds)
        val out = IdentityResolver.applyBatch(reg, res, lk, day)
        IdentityResolver.Registry(
          out.subjects.localCheckpoint(false), out.localIds.localCheckpoint(false))
      }
      val once = applyOnce(registry)
      val twice = applyOnce(once)
      sameRows(once.subjects, twice.subjects) && sameRows(once.localIds, twice.localIds)
    }

    if (failures > 0) {
      println(s"[verifyscale] $failures FAILED")
      spark.stop(); sys.exit(1)
    }
    println("[verifyscale] all invariants hold")
    spark.stop()
  }
}
