package graft

import org.apache.spark.sql.SparkSession

/** SQL surface: register the testdata tables (and custom functions) so
  * users can drive the engine with `spark.sql` instead of the
  * DataFrame API — both compile to the same Catalyst plans. */
object GraftSql {

  /** Per-table fault isolation: one table failing to load (missing
    * file, schema drift the loader doesn't know yet) must not take
    * down the whole SQL surface — a query over orders should not die
    * because the events view could not register. */
  def registerTables(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables.load(spark, sfDir, t)
        df.createOrReplaceTempView(t)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(s"graft: skipping SQL view '$t': ${e.getMessage}")
      }
    }

  /** Register the LIVE state of a maintained BM25 index
    * ([[graft.operators.LexicalIndex]]) for SQL (round 16 — the index
    * layer joins the pure-SQL proof surface): `<prefix>_postings`
    * `(doc_id, dl, term, tf, _b)` and `<prefix>_stats`
    * `(n_docs, tot)`, index version resolved and tombstones
    * applied at registration (snapshot-isolation semantics —
    * re-register to pick up later applies).
    * Any lexical scoring is then plain SQL over the index tables,
    * never a corpus rescan. */
  def registerBm25Index(spark: SparkSession, prefix: String,
      indexDir: String): Unit = {
    graft.operators.LexicalIndex.bm25PostingsLive(spark, indexDir)
      .createOrReplaceTempView(s"${prefix}_postings")
    graft.operators.LexicalIndex.bm25StatsLive(spark, indexDir)
      .createOrReplaceTempView(s"${prefix}_stats")
  }

  /** Register the LIVE state of a maintained IVF-PQ index
    * ([[graft.operators.SimilaritySearch]]) for SQL:
    * `<prefix>_codes` `(_id, codes, _list)`, `<prefix>_centroids`
    * `(_list, centroid)`, `<prefix>_codebooks`
    * `(subspace, code, entry)` — same snapshot semantics. The whole
    * probe-and-ADC search is then expressible as SQL text over these
    * views (the q_sql_ivfpq_index gate does exactly that). */
  def registerIvfPqIndex(spark: SparkSession, prefix: String,
      indexDir: String): Unit = {
    graft.operators.SimilaritySearch.ivfPqCodesLive(spark, indexDir)
      .createOrReplaceTempView(s"${prefix}_codes")
    graft.operators.SimilaritySearch.ivfPqCentroidsLive(spark, indexDir)
      .createOrReplaceTempView(s"${prefix}_centroids")
    graft.operators.SimilaritySearch.ivfPqCodebooksLive(spark, indexDir)
      .createOrReplaceTempView(s"${prefix}_codebooks")
  }

  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("gen_gsid",
      _ => graft.functions.GenerateGsid(), "built-in")
    reg.createOrReplaceTempFunction("base32_encode",
      graft.functions.SqlBuilders.base32Encode, "built-in")
    reg.createOrReplaceTempFunction("cosine_sim",
      args => graft.functions.CosineSim(args.head, args(1)), "built-in")
    reg.createOrReplaceTempFunction("top_k_rows",
      graft.functions.SqlBuilders.topKRows, "built-in")
    reg.createOrReplaceTempFunction("misra_gries",
      graft.functions.SqlBuilders.misraGries, "built-in")
    reg.createOrReplaceTempFunction("kmv_distinct",
      graft.functions.SqlBuilders.kmvDistinct, "built-in")
    reg.createOrReplaceTempFunction("hist_fixed",
      graft.functions.SqlBuilders.histFixed, "built-in")
    reg.createOrReplaceTempFunction("kll_quantiles",
      graft.functions.SqlBuilders.kllQuantiles, "built-in")
    reg.createOrReplaceTempFunction("kll_quantiles_exact",
      graft.functions.SqlBuilders.kllQuantilesExact, "built-in")
    reg.createOrReplaceTempFunction("kmv_minima",
      graft.functions.SqlBuilders.kmvMinima, "built-in")
    graft.functions.Similarity.register(spark)
  }
}
