package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Retrieval, Sampling, SimilaritySearch, TextAnalysis}

/** Text-analysis + dedup queries over the `documents` table (the
  * training-data-pipeline surface: token counting, quality scoring,
  * language ID, fingerprinting, exact + n-gram-Jaccard dedup). */
object TextQueries {

  private val toksDuck = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"

  /** Emitted pair set of the last q_dedup_minhash_fast run — stashed so
    * the deferred oracle can restrict brute-force Jaccard truth to it
    * (see the QueryDef scaladoc on deferred oracles). */
  private val minhashFastPairs =
    new java.util.concurrent.atomic.AtomicReference[Seq[(Long, Long)]](null)

  private val bm25IndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // the dataset-state stamp mirrors VectorQueries.sourceStamp: a
  // regenerated documents table mid-JVM must not be served a stale index
  private def docStamp(datasetDir: String): String = {
    val f = new java.io.File(s"$datasetDir/documents.parquet")
    val files = if (f.isDirectory) f.listFiles().toSeq else Seq(f)
    val listing = files.filter(x => x.isFile && x.getName.endsWith(".parquet"))
      .map(x => s"${x.getName}:${x.length()}:${x.lastModified()}")
      .sorted.mkString("|")
    java.util.UUID.nameUUIDFromBytes(listing.getBytes("UTF-8")).toString
  }

  /** The incrementally-MAINTAINED BM25 index for the gate: built over
    * the base subset (doc_id % 7 == 3 withheld), then the
    * new/orphaned/updated feed applied once per (dataset, state). */
  private def cachedBm25Index(docs: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    bm25IndexCache.computeIfAbsent(s"$datasetDir@${docStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_bm25idx")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      graft.operators.LexicalIndex.writeBm25Index(
        docs.filter(col("doc_id") % 7 =!= 3), p.toString, nBuckets = 32)
      graft.operators.LexicalIndex.applyBm25IndexChanges(docs.sparkSession,
        p.toString, bm25Feed(docs)): Unit
      p.toString
    })

  private def bm25Feed(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val m7 = col("doc_id") % 7
    val nw = docs.filter(m7 === 3).withColumn("_change", lit("new"))
    val dl = docs.filter(m7 =!= 3 && col("doc_id") % 11 === 4)
      .withColumn("_change", lit("orphaned"))
    val up = docs.filter(m7 =!= 3 && col("doc_id") % 11 =!= 4 &&
        col("doc_id") % 13 === 6)
      .withColumn("text", concat(col("text"), lit(" spark")))
      .withColumn("_change", lit("updated"))
    nw.unionByName(dl).unionByName(up)
  }

  private val bm25PartCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The PER-FILTER-PARTITION BM25 family (percent-scale filtered
    * lexical search): same base subset and feed as [[cachedBm25Index]],
    * but the corpus is partitioned on `part = doc_id % 4` with one
    * index per value and the feed ROUTED
    * ([[graft.operators.LexicalIndex.applyPartitionedBm25IndexChanges]]).
    * BM25 stats sum over partitions, so routed multi-partition search
    * is exactly the filtered-corpus score. */
  private def cachedBm25PartIndex(docs: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    bm25PartCache.computeIfAbsent(s"$datasetDir@${docStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_bm25part")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      def withPart(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("part", (col("doc_id") % 4).cast("long"))
      graft.operators.LexicalIndex.writePartitionedBm25Index(
        withPart(docs.filter(col("doc_id") % 7 =!= 3)), p.toString, "part",
        nBuckets = 8): Unit
      graft.operators.LexicalIndex.applyPartitionedBm25IndexChanges(
        docs.sparkSession, p.toString, "part", withPart(bm25Feed(docs))): Unit
      p.toString
    })

  private val bm25LsmCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val bm25StreamCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Same base index as [[cachedBm25Index]], but the feed arrives as a
    * REAL multi-micro-batch StreamingQuery (file source, one file per
    * trigger) whose every batch runs an append-mode apply under a
    * checkpoint ([[graft.operators.LexicalIndex.bm25IndexSink]]) —
    * streaming maintenance and the LSM log meeting end-to-end. Left
    * uncompacted: the gate search reads through the stream's
    * tombstones. Feed ids are disjoint across batches, so the final
    * logical state equals the one-shot apply in any schedule. */
  private def cachedBm25StreamIndex(docs: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    bm25StreamCache.computeIfAbsent(s"$datasetDir@${docStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_bm25stream")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      val s = docs.sparkSession
      graft.operators.LexicalIndex.writeBm25Index(
        docs.filter(col("doc_id") % 7 =!= 3), s"$p/index", nBuckets = 32)
      val feed = bm25Feed(docs).select("doc_id", "text", "_change")
      feed.repartition(3).write.mode("overwrite").parquet(s"$p/feed")
      val stream = s.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$p/feed")
      val q = graft.operators.LexicalIndex.bm25IndexSink(
        stream, s"$p/index", s"$p/ckpt")
      try q.processAllAvailable() finally q.stop()
      s"$p/index"
    })

  /** Same base index and feed as [[cachedBm25Index]], but maintained
    * in APPEND mode and left UNCOMPACTED — the gate search reads
    * through live tombstones and the multi-dir append log. */
  private def cachedBm25LsmIndex(docs: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    bm25LsmCache.computeIfAbsent(s"$datasetDir@${docStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_bm25lsm")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      graft.operators.LexicalIndex.writeBm25Index(
        docs.filter(col("doc_id") % 7 =!= 3), p.toString, nBuckets = 32)
      graft.operators.LexicalIndex.applyBm25IndexChanges(docs.sparkSession,
        p.toString, bm25Feed(docs), mode = "append"): Unit
      p.toString
    })

  /** The post-feed corpus — what [[bm25Feed]] leaves behind: orphans
    * gone, updated docs carrying ' spark', the withheld third present.
    * The corpus of record a rebuild rebuilds from. */
  private def postFeedDocs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(!(col("doc_id") % 7 =!= 3 && col("doc_id") % 11 === 4))
      .withColumn("text",
        when(col("doc_id") % 7 =!= 3 && col("doc_id") % 11 =!= 4 &&
            col("doc_id") % 13 === 6, concat(col("text"), lit(" spark")))
          .otherwise(col("text")))

  private val bm25RebuildCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The REBUILT index: base build + append feed (left uncompacted,
    * live tombstones), then a rebuild
    * ([[graft.operators.LexicalIndex.writeBm25Index]] into the same root)
    * over the post-feed corpus WITH a retention purge
    * (doc_id % 23 == 11 dropped) and a re-bucketing (32 → 16) — an
    * atomic generation swap — then one more updated feed
    * (doc_id % 17 == 9 gains ' vector') applied to the NEW
    * generation. The retention purge is what makes a skipped or torn
    * rebuild detectable: purged docs linger in the old generation
    * only. */
  private def cachedBm25RebuildIndex(docs: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    bm25RebuildCache.computeIfAbsent(s"$datasetDir@${docStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_bm25rebuild")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      val s = docs.sparkSession
      graft.operators.LexicalIndex.writeBm25Index(
        docs.filter(col("doc_id") % 7 =!= 3), p.toString, nBuckets = 32)
      graft.operators.LexicalIndex.applyBm25IndexChanges(s,
        p.toString, bm25Feed(docs), mode = "append"): Unit
      val purged = postFeedDocs(docs).filter(col("doc_id") % 23 =!= 11)
      graft.operators.LexicalIndex.writeBm25Index(purged, p.toString,
        nBuckets = 16): Unit
      val feed2 = purged.filter(col("doc_id") % 17 === 9)
        .withColumn("text", concat(col("text"), lit(" vector")))
        .withColumn("_change", lit("updated"))
      graft.operators.LexicalIndex.applyBm25IndexChanges(s,
        p.toString, feed2, mode = "append"): Unit
      p.toString
    })

  /** The post-change-corpus BM25 oracle shared by every maintained-
    * index gate (incremental rewrite, LSM append, streaming): the
    * oracle knows nothing of any index — it scores the corpus AFTER
    * the change feed directly, so a stale posting, lost delete,
    * missed zero-token doc in n_docs, or drifted stats break the
    * hash regardless of which maintenance path built the state. */
  private def bm25MaintainedOracle: String = bm25MaintainedOracle("", "")

  /** `textCat` appends later-feed text edits to the post-feed text
    * expression; `corpusAnd` narrows the corpus further (a retention
    * purge at rebuild). The oracle still knows nothing of any index —
    * it derives BM25 from the final corpus state alone. */
  private def bm25MaintainedOracle(textCat: String, corpusAnd: String): String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 7 <> 3 AND doc_id % 11 <> 4 AND doc_id % 13 = 6
       |         THEN text || ' spark' ELSE text END)$textCat AS text
       |  FROM documents
       |  WHERE NOT (doc_id % 7 <> 3 AND doc_id % 11 = 4)$corpusAnd),
       |dl AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS dl FROM docs),
       |toks AS (SELECT doc_id, unnest($toksDuck) AS term FROM docs),
       |stats AS (SELECT COUNT(*) AS n_docs,
       |            CAST(SUM(len($toksDuck)) AS BIGINT) AS tot FROM docs),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
       |       WHERE term IN ('merge', 'spark', 'vector') GROUP BY 1, 2),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    ((CAST(s.n_docs - dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) *
       |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
       |     (CAST(tf.tf AS DOUBLE) +
       |      1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
       |                            (CAST(s.tot AS DOUBLE) / s.n_docs))))) AS s_t
       |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id,
       |    ((0.0 + coalesce(max(CASE WHEN term = 'merge' THEN s_t END), 0.0))
       |         + coalesce(max(CASE WHEN term = 'spark' THEN s_t END), 0.0))
       |         + coalesce(max(CASE WHEN term = 'vector' THEN s_t END), 0.0) AS score,
       |    CAST(COUNT(*) AS INT) AS n_terms
       |  FROM scored GROUP BY doc_id)
       |SELECT doc_id, score, n_terms FROM agg
       |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "q_text_metrics",
      s"""SELECT doc_id,
         |  CAST(len($toksDuck) AS INT) AS n_tokens,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |            / length(text) END AS punct_ratio,
         |  CASE WHEN len($toksDuck) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter($toksDuck,
         |              x -> lower(x) IN ('the','and','is','of','to','a','in'))) AS DOUBLE)
         |            / len($toksDuck) END AS stopword_ratio,
         |  CASE WHEN len($toksDuck) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform($toksDuck, x -> length(x))) AS DOUBLE)
         |            / len($toksDuck) END AS mean_word_len
         |FROM documents
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.meanWordLen(col("text")).as("mean_word_len"))
        .orderBy("doc_id")
    },

    // BPE-ish subword counting: word-piece boundaries at case/digit
    // transitions plus punctuation — the tokenizer-vocab stand-in for
    // per-document token budgeting.
    QueryDef.sql(
      "q_text_subwords",
      s"""SELECT doc_id, CAST(len($toksDuck) AS INT) AS n_tokens,
         |  CAST(len(list_filter(regexp_split_to_array(
         |    regexp_replace(trim(text),
         |      '([a-z])([A-Z])|([A-Za-z])([0-9])', '\\1\\3 \\2\\4', 'g'),
         |    '[\\s[:punct:]]+'), x -> x <> '')) AS INT) AS n_subwords
         |FROM documents
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).cast("int").as("n_subwords"))
        .orderBy("doc_id")
    },

    QueryDef.sql(
      "q_text_quality",
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len($toksDuck) AS INT) AS n_tokens,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         |              / length(text) END AS punct_ratio,
         |    CASE WHEN len($toksDuck) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter($toksDuck,
         |                x -> lower(x) IN ('the','and','is','of','to','a','in'))) AS DOUBLE)
         |              / len($toksDuck) END AS stopword_ratio,
         |    CASE WHEN len($toksDuck) = 0 THEN 0.0
         |         ELSE CAST(list_sum(list_transform($toksDuck, x -> length(x))) AS DOUBLE)
         |              / len($toksDuck) END AS mean_word_len
         |  FROM documents)
         |SELECT doc_id,
         |  (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |   + least(stopword_ratio * 5.0, 1.0)
         |   + greatest(1.0 - punct_ratio * 10.0, 0.0)
         |   + (1.0 - least(abs(mean_word_len - 5.0) / 5.0, 1.0))) * 0.25 AS quality
         |FROM m
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // Gopher quality-filter battery (Rae et al. 2021, appendix A1.1)
    // with the paper's thresholds, applied by integer cross-
    // multiplication (no IEEE division) — raw counts are emitted so
    // the hash pins the arithmetic even where this single-line
    // synthetic corpus makes a rule degenerate (line rules pass
    // trivially here; multi-line behavior is spec-pinned).
    QueryDef.sql(
      "q_text_gopher",
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len($toksDuck) AS INT) AS n_words,
         |    CAST(COALESCE(list_sum(list_transform($toksDuck, x -> length(x))), 0)
         |         AS BIGINT) AS n_chars,
         |    CAST(length(text) - length(replace(text, '#', '')) AS INT)
         |      + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS INT)
         |      AS n_sym,
         |    CAST(len(list_filter(string_split(text, chr(10)), l -> trim(l) <> ''))
         |         AS INT) AS n_lines,
         |    CAST(len(list_filter(string_split(text, chr(10)), l -> trim(l) <> '' AND
         |      (starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '•'))))
         |         AS INT) AS n_bullet,
         |    CAST(len(list_filter(string_split(text, chr(10)), l -> trim(l) <> '' AND
         |      (ends_with(l, '...') OR ends_with(l, '…')))) AS INT) AS n_ellipsis,
         |    CAST(len(list_filter($toksDuck, x -> regexp_matches(x, '[A-Za-z]')))
         |         AS INT) AS n_alpha,
         |    CAST(list_contains(list_transform($toksDuck, x -> lower(x)), 'the')::INT
         |       + list_contains(list_transform($toksDuck, x -> lower(x)), 'be')::INT
         |       + list_contains(list_transform($toksDuck, x -> lower(x)), 'to')::INT
         |       + list_contains(list_transform($toksDuck, x -> lower(x)), 'of')::INT
         |       + list_contains(list_transform($toksDuck, x -> lower(x)), 'and')::INT
         |       + list_contains(list_transform($toksDuck, x -> lower(x)), 'that')::INT
         |       + list_contains(list_transform($toksDuck, x -> lower(x)), 'have')::INT
         |       + list_contains(list_transform($toksDuck, x -> lower(x)), 'with')::INT
         |       AS INT) AS stop_hits
         |  FROM documents)
         |SELECT doc_id, n_words, n_chars, n_sym, n_lines, n_bullet, n_ellipsis,
         |  n_alpha, stop_hits,
         |  n_words BETWEEN 50 AND 100000 AS r_word_count,
         |  3*n_words <= n_chars AND n_chars <= 10*n_words AS r_mean_word_len,
         |  10*n_sym < n_words AS r_symbol_ratio,
         |  10*n_bullet < 9*n_lines AS r_bullet,
         |  10*n_ellipsis < 3*n_lines AS r_ellipsis,
         |  5*n_alpha > 4*n_words AS r_alpha,
         |  stop_hits >= 2 AS r_stopwords,
         |  (n_words BETWEEN 50 AND 100000) AND 3*n_words <= n_chars
         |    AND n_chars <= 10*n_words AND 10*n_sym < n_words
         |    AND 10*n_bullet < 9*n_lines AND 10*n_ellipsis < 3*n_lines
         |    AND 5*n_alpha > 4*n_words AND stop_hits >= 2 AS keep
         |FROM m
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.gopherQuality(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    QueryDef.sql(
      "q_text_langid", {
        def cnt(m: String) =
          s"CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '$m', ''))) / ${m.length} AS INT)"
        val sEn = Seq(" the ", " and ", " is ").map(cnt).mkString(" + ")
        val sEs = Seq(" el ", " la ", " de ").map(cnt).mkString(" + ")
        val sFr = Seq(" le ", " et ", " les ").map(cnt).mkString(" + ")
        val sDe = Seq(" der ", " und ", " die ").map(cnt).mkString(" + ")
        s"""WITH s AS (
           |  SELECT doc_id, lang, $sEn AS s_en, $sEs AS s_es, $sFr AS s_fr, $sDe AS s_de
           |  FROM documents)
           |SELECT doc_id, lang, s_en, s_es, s_fr, s_de,
           |  CASE WHEN greatest(s_en, s_es, s_fr, s_de) <= 0 THEN 'unknown'
           |       WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
           |       WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
           |       WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
           |       WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
           |       ELSE 'unknown' END AS lang_guess
           |FROM s
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextAnalysis.langScore(col("text"), "en").as("s_en"),
        TextAnalysis.langScore(col("text"), "es").as("s_es"),
        TextAnalysis.langScore(col("text"), "fr").as("s_fr"),
        TextAnalysis.langScore(col("text"), "de").as("s_de"),
        TextAnalysis.langId(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    },

    // Exact-dedup groups (all fingerprints with survivor + count; the
    // HAVING>1 variant is empty on this corpus and covered by specs).
    QueryDef.sql(
      "q_dedup_exact_groups",
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |  min(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM documents
        |GROUP BY 1
        |ORDER BY fingerprint""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .orderBy("fingerprint")
    },

    QueryDef.sql(
      "q_dedup_first_wins",
      """SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.dropExactDuplicates(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id")
        .orderBy("doc_id")
    },

    // n-gram Jaccard near-dup pairs (3-gram shingles, τ = 0.5).
    QueryDef.sql(
      "q_dedup_ngram_jaccard",
      // sh AS MATERIALIZED: referenced three times (sizes + self-join)
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
        .orderBy("id_a", "id_b")
    },

    // Asymmetric CONTAINMENT pairs — the quote/subset detector
    // symmetric Jaccard misses: the corpus is salted with TRUNCATED
    // copies (first half of each ≥6-token doc, id+10⁹) whose shingles
    // are a strict subset of their source's, so containment(inner →
    // source) = 1.0 by construction while Jaccard is ~0.5. Both
    // directions of every candidate pair are tested; the oracle
    // re-derives the shingle sets of the salted corpus and replays
    // the division per direction.
    QueryDef.sql(
      "q_dedup_containment",
      s"""WITH base AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |docs AS (
         |  SELECT doc_id, t FROM base
         |  UNION ALL
         |  SELECT doc_id + 1000000000, t[1:CAST((len(t) + 1) // 2 AS INT)]
         |  FROM base WHERE len(t) >= 6 AND doc_id % 7 = 0),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM docs, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |c2 AS (SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b
         |       FROM common
         |       JOIN sizes sa ON sa.doc_id = id_a
         |       JOIN sizes sb ON sb.doc_id = id_b),
         |dirs AS (
         |  SELECT id_a AS id_inner, id_b AS id_outer, n_common,
         |    n_a AS n_inner, n_b AS n_outer,
         |    CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
         |  FROM c2
         |  UNION ALL
         |  SELECT id_b, id_a, n_common, n_b, n_a,
         |    CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE)
         |  FROM c2)
         |SELECT id_inner, id_outer, n_common, n_inner, n_outer, containment
         |FROM dirs WHERE containment >= 0.9
         |ORDER BY id_inner, id_outer""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          filter(split(trim(col("text")), "\\s+"), x => x =!= "").as("t"))
      val salted = base.unionByName(
        base.filter(size(col("t")) >= 6 && col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            slice(col("t"), lit(1), ((size(col("t")) + 1) / 2).cast("int")).as("t")))
        .select(col("doc_id"), array_join(col("t"), " ").as("text"))
      Dedup.containmentPairs(salted, "doc_id", "text", 3, 0.9)
        .orderBy("id_inner", "id_outer")
    },

    // The dataset card: the per-(lang, source) mix table a corpus
    // release ships with — doc/token/char counts, exact median
    // length, corpus share. Two aggregation passes; the share is one
    // IEEE division over exact BIGINTs.
    QueryDef.sql(
      "q_text_dataset_card",
      s"""WITH cells AS (SELECT lang, source, COUNT(*) AS n_docs,
         |    CAST(SUM(len($toksDuck)) AS BIGINT) AS n_tokens,
         |    CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         |    quantile_cont(CAST(length(text) AS DOUBLE), 0.5) AS p50_chars
         |  FROM documents GROUP BY 1, 2),
         |t AS (SELECT COUNT(*) AS total FROM documents)
         |SELECT lang, source, n_docs, n_tokens, n_chars, p50_chars,
         |  CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS doc_share
         |FROM cells CROSS JOIN t
         |ORDER BY lang, source""".stripMargin) { (s, d) =>
      TextAnalysis.datasetCard(Tables.documents(s, d)).orderBy("lang", "source")
    },

    // The SAME exact Jaccard pairs through the prefix-filtered
    // (AllPairs/PPJoin) plan: candidates only from each doc's rarest
    // (df-ordered) prefix shingles, exact verify on the full sets.
    // Identical oracle as q_dedup_ngram_jaccard — the point IS that a
    // differently-shaped plan reproduces the exact answer while
    // excluding hot shingles from the candidate join entirely.
    QueryDef.sql(
      "q_dedup_jaccard_prefix",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.jaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text", 3, 0.5)
        .orderBy("id_a", "id_b")
    },

    // Triangles over the near-dup pair graph: triples of MUTUALLY
    // near-duplicate documents (wedge join closed against the third
    // edge, Σdeg² cost — cluster-bounded on dedup graphs). The
    // community evidence pair counts miss; same t=0.5 pair
    // definition as q_dedup_ngram_jaccard.
    QueryDef.sql(
      "q_dedup_triangles",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM common
         |          JOIN sizes sa ON sa.doc_id = id_a
         |          JOIN sizes sb ON sb.doc_id = id_b
         |          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5)
         |SELECT t1.id_a AS id_a, t1.id_b AS id_b, t2.id_b AS id_c
         |FROM pairs t1
         |JOIN pairs t2 ON t2.id_a = t1.id_b
         |JOIN pairs t3 ON t3.id_a = t1.id_a AND t3.id_b = t2.id_b
         |ORDER BY id_a, id_b, id_c""".stripMargin) { (s, d) =>
      graft.operators.GraphRank.triangles(
          Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.5))
        .orderBy("id_a", "id_b", "id_c")
    },

    // Near-dup cluster collapse: pairs → connected components →
    // survivor election (min id). The oracle recomputes the same
    // Jaccard pairs, then runs min-label CC as a recursive CTE — the
    // same fixpoint the Spark loop reaches by label propagation.
    QueryDef.sql(
      "q_dedup_collapse",
      // sh AS MATERIALIZED: referenced three times (sizes + self-join)
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM common
         |          JOIN sizes sa ON sa.doc_id = id_a
         |          JOIN sizes sb ON sb.doc_id = id_b
         |          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |cc(id, l) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, cc.l FROM edges e JOIN cc ON cc.id = e.b),
         |comp AS (SELECT id, min(l) AS cluster_id FROM cc GROUP BY id)
         |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |  d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS kept
         |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Dedup.collapseNearDuplicates(docs.select("doc_id"), pairs, "doc_id")
        .select("doc_id", "cluster_id", "kept")
        .orderBy("doc_id")
    },

    // Collapse SAFETY audit: per near-dup cluster, member/edge/
    // triangle counts, edge density E/C(n,2), and a clique-vs-chain
    // verdict at density ≥ 0.6 — the check that stops a transitive
    // chain (A~B~C with A,C unrelated) from being deleted as if it
    // were a clique. The oracle replays CC + edge/triangle joins.
    QueryDef.sql(
      "q_dedup_collapse_safety",
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM common
         |          JOIN sizes sa ON sa.doc_id = id_a
         |          JOIN sizes sb ON sb.doc_id = id_b
         |          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |cc(id, l) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, cc.l FROM edges e JOIN cc ON cc.id = e.b),
         |comp AS (SELECT id, min(l) AS cluster_id FROM cc GROUP BY id),
         |mem AS (SELECT cluster_id, COUNT(*) AS n_members
         |        FROM comp GROUP BY 1 HAVING COUNT(*) >= 2),
         |ec AS (SELECT c.cluster_id, COUNT(*) AS n_edges
         |       FROM pairs p JOIN comp c ON c.id = p.id_a GROUP BY 1),
         |tc AS (SELECT c.cluster_id, COUNT(*) AS n_triangles
         |       FROM (SELECT t1.id_a FROM pairs t1
         |             JOIN pairs t2 ON t2.id_a = t1.id_b
         |             JOIN pairs t3 ON t3.id_a = t1.id_a AND t3.id_b = t2.id_b) tri
         |       JOIN comp c ON c.id = tri.id_a GROUP BY 1)
         |SELECT m.cluster_id, m.n_members,
         |  COALESCE(ec.n_edges, 0) AS n_edges,
         |  COALESCE(tc.n_triangles, 0) AS n_triangles,
         |  CAST(COALESCE(ec.n_edges, 0) AS DOUBLE)
         |    / CAST(m.n_members * (m.n_members - 1) // 2 AS DOUBLE) AS density,
         |  CAST(COALESCE(ec.n_edges, 0) AS DOUBLE)
         |    / CAST(m.n_members * (m.n_members - 1) // 2 AS DOUBLE) >= 0.6 AS safe
         |FROM mem m LEFT JOIN ec USING (cluster_id) LEFT JOIN tc USING (cluster_id)
         |ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Dedup.collapseSafety(docs.select("doc_id"), pairs, "doc_id", 0.6)
        .orderBy("cluster_id")
    },

    // MinHash+LSH near-dup detection under the FULL hash gate: the
    // Portable hash family (md5-derived 56/53-bit words, Kirsch-
    // Mitzenmacher g_i = h1 + i*h2m) lets DuckDB recompute signatures,
    // banding, bucket caps, candidates and exact-Jaccard verification
    // bit-for-bit. Recall vs exact Jaccard additionally pinned in
    // DedupSpec.
    QueryDef.sql(
      "q_dedup_minhash_lsh",
      // sh/sig AS MATERIALIZED: both are multi-referenced, and DuckDB
      // inlines plain CTEs per reference — the 64-way UNNEST expansion
      // would otherwise recompute per reference and dominate the
      // compare at sf1 (same hint as q_dedup_incremental; results
      // identical)
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |hs AS (SELECT doc_id,
         |         ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h1,
         |         ('0x' || substr(md5(shingle), 15, 14))::BIGINT % ${1L << 53} AS h2m
         |       FROM sh),
         |sig AS MATERIALIZED (SELECT doc_id, i, min(h1 + i * h2m) AS s
         |        FROM hs, UNNEST(range(0, 64)) AS r(i) GROUP BY doc_id, i),
         |band AS (SELECT doc_id, i // 4 AS band_idx,
         |                string_agg(s::VARCHAR, ',' ORDER BY i) AS band_key
         |         FROM sig GROUP BY doc_id, i // 4),
         |okband AS (SELECT band_idx, band_key FROM band
         |           GROUP BY band_idx, band_key HAVING COUNT(*) <= 256),
         |bandc AS (SELECT b.doc_id, b.band_idx, b.band_key
         |          FROM band b JOIN okband o USING (band_idx, band_key)),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |         FROM bandc x JOIN bandc y
         |           ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         |              AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_common
         |           FROM cand c
         |           JOIN sh a ON a.doc_id = c.id_a
         |           JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |           GROUP BY c.id_a, c.id_b)
         |SELECT id_a, id_b,
         |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.minhashDedup(Tables.documents(s, d), "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5,
          mode = Dedup.Portable)
        .orderBy("id_a", "id_b")
    },

    // The PRODUCTION MinHash path: Fast mode (xxhash64 family), the
    // default users run. The Portable gate above verifies the whole
    // pipeline bit-for-bit; this one gates the Fast path's PRECISION
    // exactly. The xxhash64 candidate set is not SQL-replayable by
    // design, but the verify stage is exact Jaccard — every emitted
    // pair is in the brute-force truth by construction — so the query
    // stashes its emitted (id_a, id_b) set while running and the
    // DEFERRED oracle (QueryDef.sqlDeferred: Verify dumps oracles
    // after all queries ran) recomputes each pair's exact Jaccard
    // from raw documents, restricted to that set. A wrong jaccard, a
    // duplicate, or any pair below threshold hash-fails the gate;
    // candidate RECALL (the hash-family-dependent part) is pinned
    // separately in DedupSpec. The stash collect is result-sized (the
    // gate materializes results driver-side anyway) and capped loudly.
    QueryDef.sqlDeferred("q_dedup_minhash_fast") { (s, d) =>
      val out = Dedup.minhashDedup(Tables.documents(s, d), "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5,
          mode = Dedup.Fast)
        .orderBy("id_a", "id_b")
        .localCheckpoint(false) // one materialization feeds stash + write
      val pairs = out.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      require(pairs.size <= 200000,
        s"q_dedup_minhash_fast: ${pairs.size} emitted pairs exceed the " +
          "oracle-literal budget — raise the threshold or gate at a smaller sf")
      minhashFastPairs.set(pairs)
      out
    } {
      val pairs = Option(minhashFastPairs.get()).getOrElse(throw new IllegalStateException(
        "q_dedup_minhash_fast oracle requested before the query ran"))
      val pairsSrc =
        if (pairs.isEmpty)
          "(SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b WHERE FALSE)"
        else pairs.map { case (a, b) => s"($a, $b)" }
          .mkString("(SELECT CAST(a AS BIGINT) AS id_a, CAST(b AS BIGINT) AS id_b FROM (VALUES ",
            ", ", ") v(a, b))")
      s"""WITH pairs AS $pairsSrc,
         |toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT p.id_a, p.id_b, COUNT(*) AS n_common
         |           FROM pairs p
         |           JOIN sh a ON a.doc_id = p.id_a
         |           JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
         |           GROUP BY p.id_a, p.id_b)
         |SELECT id_a, id_b,
         |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Incremental MinHash dedup under the hash gate: batch1 (even ids)
    // seeds the signature store with its intra-batch survivors; batch2
    // (odd ids) dedups against store + itself. The oracle replays both
    // runs — Portable signatures, banding, bucket caps, the
    // signature-agreement estimate and the kill rules — bit-for-bit.
    QueryDef.sql(
      "q_dedup_incremental",
      // sh/sig/band are AS MATERIALIZED: DuckDB inlines plain CTEs per
      // reference, and sig (a 64-way UNNEST over every shingle) is
      // referenced four times — inlined it recomputes a ~320M-row
      // expansion each time and overruns any temp-dir budget at sf1;
      // materialized it is 3.2M rows computed once (same results, pure
      // optimizer hint)
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |hs AS (SELECT doc_id,
         |         ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h1,
         |         ('0x' || substr(md5(shingle), 15, 14))::BIGINT % ${1L << 53} AS h2m
         |       FROM sh),
         |sig AS MATERIALIZED (SELECT doc_id, i, min(h1 + i * h2m) AS s
         |        FROM hs, UNNEST(range(0, 64)) AS r(i) GROUP BY doc_id, i),
         |band AS MATERIALIZED (SELECT doc_id, i // 4 AS band_idx,
         |                string_agg(s::VARCHAR, ',' ORDER BY i) AS band_key
         |         FROM sig GROUP BY doc_id, i // 4),
         |b1band AS (SELECT * FROM band WHERE doc_id % 2 = 0),
         |ok1 AS (SELECT band_idx, band_key FROM b1band GROUP BY 1,2 HAVING COUNT(*) <= 256),
         |c1 AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |       FROM b1band x JOIN ok1 o USING (band_idx, band_key)
         |       JOIN b1band y ON y.band_idx = x.band_idx AND y.band_key = x.band_key
         |                    AND x.doc_id < y.doc_id),
         |e1 AS (SELECT c.id_a, c.id_b, COUNT(*) AS eq
         |       FROM c1 c JOIN sig sa ON sa.doc_id = c.id_a
         |       JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i AND sb.s = sa.s
         |       GROUP BY 1,2),
         |kill1 AS (SELECT DISTINCT id_b AS dead FROM e1 WHERE CAST(eq AS DOUBLE)/64 >= 0.5),
         |store1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0
         |           AND doc_id NOT IN (SELECT dead FROM kill1)),
         |all2 AS (SELECT b.*, TRUE AS stored FROM band b JOIN store1 s USING (doc_id)
         |         UNION ALL
         |         SELECT b.*, FALSE FROM band b WHERE doc_id % 2 = 1),
         |ok2 AS (SELECT band_idx, band_key FROM all2 GROUP BY 1,2 HAVING COUNT(*) <= 256),
         |c2 AS (SELECT DISTINCT x.doc_id AS id_a, x.stored AS st_a,
         |                       y.doc_id AS id_b, y.stored AS st_b
         |       FROM all2 x JOIN ok2 o USING (band_idx, band_key)
         |       JOIN all2 y ON y.band_idx = x.band_idx AND y.band_key = x.band_key
         |                  AND x.doc_id < y.doc_id),
         |e2 AS (SELECT c.id_a, c.st_a, c.id_b, c.st_b, COUNT(*) AS eq
         |       FROM c2 c JOIN sig sa ON sa.doc_id = c.id_a
         |       JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i AND sb.s = sa.s
         |       GROUP BY 1,2,3,4),
         |kill2 AS (SELECT DISTINCT CASE WHEN st_a AND NOT st_b THEN id_b
         |                 WHEN NOT st_a AND st_b THEN id_a
         |                 WHEN NOT st_a AND NOT st_b THEN greatest(id_a, id_b) END AS dead
         |          FROM e2 WHERE CAST(eq AS DOUBLE)/64 >= 0.5 AND NOT (st_a AND st_b))
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 1
         |  AND doc_id NOT IN (SELECT dead FROM kill2 WHERE dead IS NOT NULL)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_incsig").toString + "/sigs"
      // run 1 executes eagerly inside the call (signatures + kill set
      // are checkpointed, the store is snapshot-published)
      Dedup.incrementalMinhashDedup(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir, threshold = 0.5, mode = Dedup.Portable)
      Dedup.incrementalMinhashDedup(docs.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text", dir, threshold = 0.5, mode = Dedup.Portable)
        .select("doc_id")
        .orderBy("doc_id")
    },

    // SimHash near-dup pairs, same Portable treatment: 56-bit md5-word
    // fingerprints, 4 bands x 14 bits, popcount-verified in both
    // dialects. Banding discovery (not exhaustive for hamming > 3) is
    // replicated exactly, so the oracle sees the same pair set.
    QueryDef.sql(
      "q_dedup_simhash",
      s"""WITH toks AS (SELECT doc_id, unnest($toksDuck) AS tok FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 14))::BIGINT AS h FROM toks),
         |votes AS (SELECT doc_id, i,
         |            SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |          FROM h, UNNEST(range(0, 56)) AS r(i) GROUP BY doc_id, i),
         |sig AS (SELECT doc_id,
         |          CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sh
         |        FROM votes GROUP BY doc_id),
         |band AS (SELECT doc_id, sh, b AS band_idx, (sh >> (b * 14)) & 16383 AS band_val
         |         FROM sig, UNNEST(range(0, 4)) AS r(b)),
         |okband AS (SELECT band_idx, band_val FROM band
         |           GROUP BY band_idx, band_val HAVING COUNT(*) <= 4096),
         |bandc AS (SELECT b.doc_id, b.sh, b.band_idx, b.band_val
         |          FROM band b JOIN okband o USING (band_idx, band_val)),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |                x.sh AS sha, y.sh AS shb
         |         FROM bandc x JOIN bandc y
         |           ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         |              AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(sha, shb)) <= 10
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
          maxHamming = 10, mode = Dedup.Portable)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    },

    // Winnowing document fingerprints (MOSS scheme): min k-gram hash
    // per sliding window — any shared run of ≥ w+k-1 chars between two
    // docs shares a fingerprint. md5-based k-gram hash keeps the whole
    // derivation ANSI-reproducible.
    QueryDef.sql(
      "q_text_winnow",
      """WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos, substr(md5(substr(s, i, 8)), 1, 8) AS h
        |  FROM t, UNNEST(range(1, len(s) - 6)) AS r(i)
        |  WHERE len(s) >= 8),
        |sel AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    max(pos) OVER (PARTITION BY doc_id) AS maxpos
        |  FROM g)
        |SELECT DISTINCT doc_id, fp
        |FROM sel WHERE pos <= maxpos - 3
        |ORDER BY doc_id, fp""".stripMargin) { (s, d) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, d), "doc_id", "text",
          k = 8, w = 4)
        .orderBy("doc_id", "fp")
    },

    // PII redaction + counting (emails, phone numbers). The corpus is
    // synthetic word-salad, so deterministic PII is injected into every
    // 10th document in BOTH dialects — the redaction is exercised on
    // real matches, not vacuously on zero hits.
    QueryDef.sql(
      "q_text_pii_redact", {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 10 = 0
           |         THEN text || ' contact user' || doc_id || '@example.com or 555-123-4567'
           |         ELSE text END AS s
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(s, '$email')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(s, '$phone')) AS INT) AS n_phones,
           |  md5(regexp_replace(regexp_replace(s, '$email', '<EMAIL>', 'g'),
           |      '$phone', '<PHONE>', 'g')) AS redacted_fp
           |FROM t
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val injected = when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-123-4567")))
        .otherwise(col("text"))
      Tables.documents(s, d).select(col("doc_id"), injected.as("s"))
        .select(col("doc_id"),
          TextAnalysis.patternCount(col("s"), TextAnalysis.EmailRe).as("n_emails"),
          TextAnalysis.patternCount(col("s"), TextAnalysis.PhoneRe).as("n_phones"),
          md5(TextAnalysis.redactPii(col("s"))).as("redacted_fp"))
        .orderBy("doc_id")
    },

    // Within-document repetition ratio (Gopher/C4-style repeated
    // n-gram filter): fraction of word trigrams that are repeats.
    QueryDef.sql(
      "q_text_repetition",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents)
         |SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
         |  CASE WHEN len(t) - 2 <= 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE)
         |            - CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
         |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE)
         |              / CAST(len(t) - 2 AS DOUBLE) END AS rep_ratio
         |FROM toks
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.repetitionRatio(col("text"), 3).as("rep_ratio"))
        .orderBy("doc_id")
    },

    // Eval-set decontamination: corpus docs sharing >= 1 word 4-gram
    // with any benchmark doc (benchmark = every 50th document).
    QueryDef.sql(
      "q_dedup_contamination",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id,
         |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1))) AS g(i)
         |       WHERE len(t) >= 4)
         |SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
         |FROM sh c JOIN sh b ON c.shingle = b.shingle
         |WHERE c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 1
         |ORDER BY c.doc_id, bench_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 4, minShared = 1L)
        .orderBy("doc_id", "bench_id")
    },

    // Continuous decontamination over the change feed: the corpus
    // lives in a merge table (batch 1 = originals, batch 2 TRUNCATES
    // every even doc — an UPDATE whose old flags must drop), each
    // checkpointed cycle scans only changed rows against the static
    // benchmark, and the per-doc status snapshot is maintained with
    // delete-and-replace. Gated output = the final snapshot, against
    // an oracle computing full-batch contamination over the FINAL
    // table state — incremental ≡ full-batch, bit-for-bit, including
    // the dropped flags of updated docs.
    QueryDef.sql(
      "q_dedup_decontam_incremental",
      s"""WITH toks0 AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |corpus AS (
         |  SELECT doc_id, t[1:CAST((len(t) + 1) // 2 AS INT)] AS t
         |  FROM toks0 WHERE doc_id % 50 <> 0 AND doc_id % 2 = 0
         |  UNION ALL
         |  SELECT doc_id, t FROM toks0
         |  WHERE doc_id % 50 <> 0 AND doc_id % 3 <> 0 AND doc_id % 2 <> 0),
         |bench AS (SELECT doc_id, t FROM toks0 WHERE doc_id % 50 = 0),
         |shc AS (SELECT DISTINCT doc_id,
         |          t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
         |        FROM corpus, UNNEST(range(1, greatest(len(t) - 2, 1))) AS g(i)
         |        WHERE len(t) >= 4),
         |shb AS (SELECT DISTINCT doc_id,
         |          t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
         |        FROM bench, UNNEST(range(1, greatest(len(t) - 2, 1))) AS g(i)
         |        WHERE len(t) >= 4)
         |SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
         |FROM shc c JOIN shb b ON c.shingle = b.shingle
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 1
         |ORDER BY c.doc_id, bench_id""".stripMargin) { (s, d) =>
      val root = QueryDef.scratch(d, "decontam")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val (docsDir, ckDir, statusRoot) = (s"$root/docs", s"$root/ck", s"$root/status")
      val cfg = graft.types.TableConfig("docs", Seq("doc_id"), Seq.empty)
      val docs = Tables.documents(s, d)
      val toks = filter(split(trim(col("text")), "\\s+"), x => x =!= "")
      val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
        .localCheckpoint(false)
      val b1 = docs.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"),
          (col("doc_id") % 4).cast("int").as("p"))
      val b2 = docs.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          array_join(slice(toks, lit(1), ((size(toks) + 1) / 2).cast("int")), " ")
            .as("text"),
          (col("doc_id") % 4).cast("int").as("p"))
      graft.sources.Sources.publishMergePartitioned(s, docsDir, b1, cfg, "p")
      Dedup.decontaminateChanges(s, docsDir, ckDir, statusRoot, bench,
        partitionCol = "p")
      graft.sources.Sources.publishMergePartitioned(s, docsDir, b2, cfg, "p")
      Dedup.decontaminateChanges(s, docsDir, ckDir, statusRoot, bench,
          partitionCol = "p")
        .get
        .orderBy("doc_id", "bench_id")
    },

    // The composed curation pass (dedup → length → quality →
    // repetition → language) as ONE gated query — the end-to-end
    // corpus→clean-corpus funnel a training pipeline runs. Every
    // fragment reuses a formula already hash-proven by its own query
    // (q_dedup_first_wins, q_text_quality, q_text_repetition,
    // q_text_langid).
    QueryDef.sql(
      "q_curation_pipeline", {
        def cnt(m: String) =
          s"CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '$m', ''))) / ${m.length} AS INT)"
        val sEn = Seq(" the ", " and ", " is ").map(cnt).mkString(" + ")
        val sEs = Seq(" el ", " la ", " de ").map(cnt).mkString(" + ")
        val sFr = Seq(" le ", " et ", " les ").map(cnt).mkString(" + ")
        val sDe = Seq(" der ", " und ", " die ").map(cnt).mkString(" + ")
        s"""WITH m AS (
           |  SELECT doc_id,
           |    CAST(len($toksDuck) AS INT) AS n_tokens,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
           |              / length(text) END AS punct_ratio,
           |    CASE WHEN len($toksDuck) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter($toksDuck,
           |                x -> lower(x) IN ('the','and','is','of','to','a','in'))) AS DOUBLE)
           |              / len($toksDuck) END AS stopword_ratio,
           |    CASE WHEN len($toksDuck) = 0 THEN 0.0
           |         ELSE CAST(list_sum(list_transform($toksDuck, x -> length(x))) AS DOUBLE)
           |              / len($toksDuck) END AS mean_word_len,
           |    CASE WHEN len($toksDuck) - 2 <= 0 THEN 0.0
           |         ELSE 1.0 - CAST(len(list_distinct(list_transform(
           |                range(1, len($toksDuck) - 1),
           |                i -> $toksDuck[i] || ' ' || $toksDuck[i+1] || ' ' || $toksDuck[i+2]))) AS DOUBLE)
           |              / CAST(len($toksDuck) - 2 AS DOUBLE) END AS rep_ratio,
           |    $sEn AS s_en, $sEs AS s_es, $sFr AS s_fr, $sDe AS s_de,
           |    row_number() OVER (
           |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           |      ORDER BY doc_id) AS rn
           |  FROM documents),
           |scored AS (
           |  SELECT doc_id, n_tokens, rn, rep_ratio, s_en, s_es, s_fr, s_de,
           |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           |     + least(stopword_ratio * 5.0, 1.0)
           |     + greatest(1.0 - punct_ratio * 10.0, 0.0)
           |     + (1.0 - least(abs(mean_word_len - 5.0) / 5.0, 1.0))) * 0.25 AS quality
           |  FROM m)
           |SELECT doc_id, n_tokens, quality, rep_ratio
           |FROM scored
           |WHERE rn = 1 AND n_tokens BETWEEN 5 AND 10000
           |  AND quality >= 0.5 AND rep_ratio <= 0.5
           |  AND s_en > 0 AND s_en >= greatest(s_es, s_fr, s_de)
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      TextAnalysis.curate(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Corpus-wide keyword extraction: top-3 terms per document by
    // inverse-document-frequency weighting. Linear idf (tf·N/df) for
    // bit-portability — see TextAnalysis.tfidfTopTerms.
    QueryDef.sql(
      "q_text_tfidf",
      s"""WITH toks AS (SELECT doc_id, unnest($toksDuck) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         |             CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score
         |           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |ranked AS (SELECT *, row_number() OVER (
         |             PARTITION BY doc_id ORDER BY score DESC, term) AS rn
         |           FROM scored)
         |SELECT doc_id, term, tf, df, score FROM ranked
         |WHERE rn <= 3
         |ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id", "term")
    },

    // Sequence packing (GPT-style concat-and-split): documents laid
    // end to end in doc_id order, cut into 256-token training
    // sequences; one row per (sequence, doc) span with exact span and
    // sequence token counts. bucketWidth=64 forces the two-phase
    // prefix sum through many buckets; the oracle is the plain global
    // cumsum (the bucketing must be invisible in the result).
    QueryDef.sql(
      "q_text_pack_spans",
      s"""WITH sized AS (
         |  SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS dl FROM documents
         |  WHERE len($toksDuck) > 0),
         |placed AS (
         |  SELECT doc_id, dl,
         |    CAST(coalesce(SUM(dl) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM sized),
         |spans AS (
         |  SELECT doc_id, dl, s,
         |    unnest(generate_series(s // 256, (s + dl - 1) // 256)) AS seq_id
         |  FROM placed),
         |sp AS (
         |  SELECT seq_id, doc_id,
         |    CAST(least(s + dl, (seq_id + 1) * 256)
         |         - greatest(s, seq_id * 256) AS BIGINT) AS span_tokens
         |  FROM spans)
         |SELECT seq_id, doc_id, span_tokens,
         |  CAST(COUNT(*) OVER (PARTITION BY seq_id) AS INT) AS seq_docs,
         |  CAST(SUM(span_tokens) OVER (PARTITION BY seq_id) AS BIGINT) AS seq_tokens
         |FROM sp
         |ORDER BY seq_id, doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
          seqTokens = 256, bucketWidth = 64)
        .orderBy("seq_id", "doc_id")
    },

    // The PERSISTED BM25 index, incrementally maintained, under the
    // full hash gate: the index is built over a base subset of the
    // corpus (doc_id % 7 == 3 withheld), then a change feed applied —
    // the withheld docs as `new`, doc_id % 11 == 4 as `orphaned`,
    // doc_id % 13 == 6 as `updated` with ' spark' appended (pure
    // string concat, so both engines tokenize the updated text
    // identically) — and the search runs over the MAINTAINED tables
    // (postings buckets of the query terms + the delta-maintained
    // stats row). The oracle knows nothing of the index: it scores the
    // post-change corpus directly, so a stale posting, a lost delete,
    // a missed zero-token doc in n_docs, or drifted stats break the
    // hash.
    QueryDef.sql(
      "q_text_bm25_incremental",
      bm25MaintainedOracle) { (s, d) =>
      val dir = cachedBm25Index(Tables.documents(s, d), d)
      graft.operators.LexicalIndex.searchBm25Index(s, dir,
          Seq("merge", "spark", "vector"), k = 25)
        .select("doc_id", "score", "n_terms")
    },

    // PERCENT-SCALE filtered lexical search (the BM25 twin of
    // q_vec_ivfpq_partitioned): the 50%-selective predicate
    // doc_id % 4 IN (1, 3) is served by ROUTING to two partition
    // indexes and merging — tf rows union, df re-derived, stats
    // summed — which is exactly BM25 over the filtered corpus (the
    // statistics are sums over partitions). Routed maintained feed;
    // the oracle narrows its corpus CTE with the same predicate, so a
    // misrouted row, an unsummed stat, or a per-partition df leaking
    // into the idf all break the hash.
    QueryDef.sql(
      "q_text_bm25_partitioned",
      bm25MaintainedOracle("", " AND doc_id % 4 IN (1, 3)")) { (s, d) =>
      val root = cachedBm25PartIndex(Tables.documents(s, d), d)
      graft.operators.LexicalIndex.searchPartitionedBm25Index(s, root,
          "part", Seq(1L, 3L), Seq("merge", "spark", "vector"), k = 25)
        .select("doc_id", "score", "n_terms")
    },

    // The maintained index driven ENTIRELY through spark.sql TEXT
    // (VERDICT r15 #7 — the index layer joins the pure-SQL proof
    // surface): GraftSql.registerBm25Index exposes the LIVE postings
    // (generation-resolved, tombstone-filtered) and the
    // delta-maintained stats row as views, and the whole BM25 scoring
    // is SQL over them — tf, dl and df come FROM THE INDEX, never a
    // corpus scan. Same post-change-corpus oracle as
    // q_text_bm25_incremental: a stale posting, resurrected kill, or
    // drifted stats row breaks the hash through the SQL dialect too.
    QueryDef.sql(
      "q_sql_bm25_index",
      bm25MaintainedOracle) { (s, d) =>
      val dir = cachedBm25Index(Tables.documents(s, d), d)
      graft.GraftSql.registerBm25Index(s, "bmidx", dir)
      s.sql(
        """WITH tf AS (SELECT doc_id, dl, term, tf FROM bmidx_postings
          |            WHERE term IN ('merge', 'spark', 'vector')),
          |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          |scored AS (
          |  SELECT tf.doc_id, tf.term,
          |    ((CAST(s.n_docs - dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) *
          |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
          |     (CAST(tf.tf AS DOUBLE) +
          |      1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) /
          |                            (CAST(s.tot AS DOUBLE) / s.n_docs))))) AS s_t
          |  FROM tf JOIN dfreq USING (term) CROSS JOIN bmidx_stats s),
          |agg AS (
          |  SELECT doc_id,
          |    ((0.0 + coalesce(max(CASE WHEN term = 'merge' THEN s_t END), 0.0))
          |         + coalesce(max(CASE WHEN term = 'spark' THEN s_t END), 0.0))
          |         + coalesce(max(CASE WHEN term = 'vector' THEN s_t END), 0.0) AS score,
          |    CAST(COUNT(*) AS INT) AS n_terms
          |  FROM scored GROUP BY doc_id)
          |SELECT doc_id, score, n_terms FROM agg
          |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)
    },

    // The LOG-STRUCTURED maintenance path under the same oracle: the
    // identical base index and feed, applied in append mode
    // (doc-level tombstones + appended batch dirs, nothing rewritten,
    // stats by delta arithmetic) and left uncompacted — the search
    // reads through the live tombstone kill. Logical state is
    // identical to q_text_bm25_incremental, so the oracle is too; a
    // resurrected posting, a kill eating a same-apply re-insert, or a
    // stats drift under append accounting all break the hash.
    QueryDef.sql(
      "q_text_bm25_lsm",
      bm25MaintainedOracle) { (s, d) =>
      val dir = cachedBm25LsmIndex(Tables.documents(s, d), d)
      graft.operators.LexicalIndex.searchBm25Index(s, dir,
          Seq("merge", "spark", "vector"), k = 25)
        .select("doc_id", "score", "n_terms")
    },

    // §2.11 meets the LSM layer (round 15): the SAME feed arrives as a
    // REAL checkpointed StreamingQuery (file source, one file per
    // trigger → 3 micro-batches), each batch an append-mode index
    // apply (LexicalIndex.bm25IndexSink). Feed ids are disjoint across
    // batches, so the final logical state equals the one-shot apply in
    // any trigger schedule — which is what lets the SAME
    // post-change-corpus oracle hash-gate a streaming-maintained
    // index. Left uncompacted: the search reads through the stream's
    // own tombstone generations.
    QueryDef.sql(
      "q_text_bm25_stream",
      bm25MaintainedOracle) { (s, d) =>
      val dir = cachedBm25StreamIndex(Tables.documents(s, d), d)
      graft.operators.LexicalIndex.searchBm25Index(s, dir,
          Seq("merge", "spark", "vector"), k = 25)
        .select("doc_id", "score", "n_terms")
    },

    // REBUILT index under the hash gate: base build + append feed
    // (live tombstones), then a writeBm25Index rebuild over the post-feed
    // corpus with a retention purge (doc_id % 23 == 11 dropped) and a
    // 32 → 16 re-bucketing — an atomic generation swap — then one
    // more updated feed (doc_id % 17 == 9 gains ' vector') applied to
    // the NEW generation. The oracle derives BM25 from the final
    // corpus alone: a skipped rebuild leaves purged docs scoring (and
    // the corpus stats inflated), a torn one mixes bucketings, a
    // post-rebuild delta applied to the dead generation loses the
    // ' vector' edits — all break the hash.
    QueryDef.sql(
      "q_text_bm25_rebuild",
      // NB the concat stays on one line: a continuation line starting
      // with '||' would lose its first bar to stripMargin
      bm25MaintainedOracle(
        " || (CASE WHEN doc_id % 17 = 9 THEN ' vector' ELSE '' END)",
        "\n    AND doc_id % 23 <> 11")) { (s, d) =>
      val dir = cachedBm25RebuildIndex(Tables.documents(s, d), d)
      graft.operators.LexicalIndex.searchBm25Index(s, dir,
          Seq("merge", "spark", "vector"), k = 25)
        .select("doc_id", "score", "n_terms")
    },

    // Okapi-BM25 lexical retrieval: top-25 docs for a 3-term query,
    // linear Robertson idf + fixed-order fold for bit-portability
    // (see TextAnalysis.bm25 — the oracle's pivoted sum reproduces
    // the term-name-ordered left fold exactly).
    QueryDef.sql(
      "q_text_bm25",
      s"""WITH dl AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS dl FROM documents),
         |toks AS (SELECT doc_id, unnest($toksDuck) AS term FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs,
         |            CAST(SUM(len($toksDuck)) AS BIGINT) AS tot FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |       WHERE term IN ('merge', 'spark', 'vector') GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    ((CAST(s.n_docs - dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) *
         |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
         |     (CAST(tf.tf AS DOUBLE) +
         |      1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
         |                            (CAST(s.tot AS DOUBLE) / s.n_docs))))) AS s_t
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
         |agg AS (
         |  SELECT doc_id,
         |    ((0.0 + coalesce(max(CASE WHEN term = 'merge' THEN s_t END), 0.0))
         |         + coalesce(max(CASE WHEN term = 'spark' THEN s_t END), 0.0))
         |         + coalesce(max(CASE WHEN term = 'vector' THEN s_t END), 0.0) AS score,
         |    CAST(COUNT(*) AS INT) AS n_terms
         |  FROM scored GROUP BY doc_id)
         |SELECT doc_id, score, n_terms FROM agg
         |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      TextAnalysis.bm25(Tables.documents(s, d), "doc_id", "text",
          Seq("merge", "spark", "vector"), k = 25)
        .select("doc_id", "score", "n_terms")
    },

    // Hybrid retrieval: the BM25 lexical top-20 (same query as
    // q_text_bm25) and the embedding-cosine top-20 for query vector 0
    // (embeddings keyed 1:1 to doc_ids where coverage exists — dense
    // coverage is PARTIAL at sf0.1, which is exactly what rank-level
    // fusion absorbs), merged by reciprocal-rank fusion. Ranks are
    // ints and each RRF contribution is one IEEE division summed in
    // declaration order, so DuckDB replays lexical ranking, dense
    // ranking, and the fused ordering bit-exactly. rank_* = 0 marks
    // "not retrieved by that system".
    QueryDef.sql(
      "q_retrieval_hybrid",
      s"""WITH dl AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS dl FROM documents),
         |toks AS (SELECT doc_id, unnest($toksDuck) AS term FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs,
         |            CAST(SUM(len($toksDuck)) AS BIGINT) AS tot FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |       WHERE term IN ('merge', 'spark', 'vector') GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    ((CAST(s.n_docs - dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) *
         |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
         |     (CAST(tf.tf AS DOUBLE) +
         |      1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
         |                            (CAST(s.tot AS DOUBLE) / s.n_docs))))) AS s_t
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
         |agg AS (
         |  SELECT doc_id,
         |    ((0.0 + coalesce(max(CASE WHEN term = 'merge' THEN s_t END), 0.0))
         |         + coalesce(max(CASE WHEN term = 'spark' THEN s_t END), 0.0))
         |         + coalesce(max(CASE WHEN term = 'vector' THEN s_t END), 0.0) AS score
         |  FROM scored GROUP BY doc_id),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         |          AS rank_lex
         |        FROM agg ORDER BY score DESC, doc_id LIMIT 20),
         |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |vsc AS (
         |  SELECT e.vec_id AS doc_id,
         |    list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qv[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(qv.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         |      AS vscore
         |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
         |vec AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY vscore DESC, doc_id) AS INT)
         |          AS rank_vec
         |        FROM vsc ORDER BY vscore DESC, doc_id LIMIT 20),
         |fused AS (
         |  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |    coalesce(rank_lex, 0) AS rank_lex,
         |    coalesce(rank_vec, 0) AS rank_vec,
         |    coalesce(1.0 / (CAST(60 AS DOUBLE) + CAST(rank_lex AS DOUBLE)), 0.0)
         |      + coalesce(1.0 / (CAST(60 AS DOUBLE) + CAST(rank_vec AS DOUBLE)), 0.0)
         |      AS rrf_score
         |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
         |SELECT doc_id, rank_lex, rank_vec, rrf_score
         |FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = TextAnalysis.bm25(docs, "doc_id", "text",
          Seq("merge", "spark", "vector"), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select("doc_id", "rank")
      val vec = SimilaritySearch.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq("lex" -> lex, "vec" -> vec), "doc_id", k = 10)
        .orderBy(col("rrf_score").desc, col("doc_id"))
    },

    // The production retrieval stack END TO END: RRF fusion where BOTH
    // shortlists come from MAINTAINED indexes — the BM25 shortlist from
    // the incrementally-maintained inverted file (bucket-pruned search
    // over the post-feed documents), the vector shortlist from the
    // change-feed-maintained IVF-PQ index (2-probe ADC ranking over the
    // post-feed embeddings). The oracle re-derives both rankings and
    // the fusion from the two post-change corpora alone — a stale
    // posting OR a stale code surfaces in the fused top-10 hash.
    QueryDef.sql(
      "q_retrieval_hybrid_indexed",
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 <> 3 AND doc_id % 11 <> 4 AND doc_id % 13 = 6
         |         THEN text || ' spark' ELSE text END AS text
         |  FROM documents
         |  WHERE NOT (doc_id % 7 <> 3 AND doc_id % 11 = 4)),
         |dl AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS dl FROM docs),
         |toks AS (SELECT doc_id, unnest($toksDuck) AS term FROM docs),
         |stats AS (SELECT COUNT(*) AS n_docs,
         |            CAST(SUM(len($toksDuck)) AS BIGINT) AS tot FROM docs),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |       WHERE term IN ('merge', 'spark', 'vector') GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    ((CAST(s.n_docs - dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) *
         |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
         |     (CAST(tf.tf AS DOUBLE) +
         |      1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
         |                            (CAST(s.tot AS DOUBLE) / s.n_docs))))) AS s_t
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
         |agg AS (
         |  SELECT doc_id,
         |    ((0.0 + coalesce(max(CASE WHEN term = 'merge' THEN s_t END), 0.0))
         |         + coalesce(max(CASE WHEN term = 'spark' THEN s_t END), 0.0))
         |         + coalesce(max(CASE WHEN term = 'vector' THEN s_t END), 0.0) AS score
         |  FROM scored GROUP BY doc_id),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         |          AS rank_lex
         |        FROM agg ORDER BY score DESC, doc_id LIMIT 20),
         |e AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id >= 8 AND vec_id % 7 <> 5 AND vec_id % 11 <> 2
         |              AND vec_id % 13 = 4
         |         THEN list_transform(range(1, len(embedding) + 1),
         |                i -> embedding[len(embedding) + 1 - i])
         |         ELSE embedding END AS v
         |  FROM embeddings
         |  WHERE NOT (vec_id >= 8 AND vec_id % 7 <> 5 AND vec_id % 11 = 2)),
         |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv
         |       FROM e WHERE vec_id < 4),
         |sub AS (SELECT e.vec_id, s.j, cb.ci,
         |    list_sum(list_transform(range(1, 17),
         |      i -> (CAST(v[j * 16 + i] AS DOUBLE) - CAST(cv[j * 16 + i] AS DOUBLE))
         |           * (CAST(v[j * 16 + i] AS DOUBLE) - CAST(cv[j * 16 + i] AS DOUBLE))))
         |      AS d
         |  FROM e CROSS JOIN cb CROSS JOIN UNNEST(range(0, 4)) AS s(j)),
         |best AS (SELECT vec_id, j, ci FROM (
         |           SELECT vec_id, j, ci,
         |             row_number() OVER (PARTITION BY vec_id, j ORDER BY d, ci) AS rn
         |           FROM sub) WHERE rn = 1),
         |co AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS li, v AS cv
         |       FROM e WHERE vec_id < 8),
         |ad AS (
         |  SELECT e.vec_id, co.li,
         |    list_sum(list_transform(range(1, len(v) + 1),
         |      i -> (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
         |           * (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))) AS d
         |  FROM e, co),
         |assign AS (SELECT vec_id, li FROM (
         |             SELECT vec_id, li,
         |               row_number() OVER (PARTITION BY vec_id ORDER BY d, li) AS rn
         |             FROM ad)
         |           WHERE rn = 1),
         |probe AS (SELECT vec_id AS query_id, li FROM (
         |            SELECT vec_id, li,
         |              row_number() OVER (PARTITION BY vec_id ORDER BY d, li) AS rn
         |            FROM ad WHERE vec_id = 0)
         |          WHERE rn <= 2),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |         FROM probe p JOIN assign a USING (li)
         |         WHERE a.vec_id <> p.query_id),
         |dj AS (SELECT c.query_id, c.neighbor_id, b.j,
         |    list_sum(list_transform(range(1, 17),
         |      i -> (CAST(q.v[b.j * 16 + i] AS DOUBLE) - CAST(cb.cv[b.j * 16 + i] AS DOUBLE))
         |           * (CAST(q.v[b.j * 16 + i] AS DOUBLE) - CAST(cb.cv[b.j * 16 + i] AS DOUBLE))))
         |      AS d
         |  FROM cand c
         |  JOIN e q ON q.vec_id = c.query_id
         |  JOIN best b ON b.vec_id = c.neighbor_id
         |  JOIN cb ON cb.ci = b.ci),
         |adc AS (SELECT query_id, neighbor_id, list_sum(list(d ORDER BY j)) AS adc_dist
         |        FROM dj GROUP BY 1, 2),
         |vec AS (SELECT neighbor_id AS doc_id,
         |          CAST(row_number() OVER (ORDER BY adc_dist, neighbor_id) AS INT)
         |            AS rank_vec
         |        FROM adc ORDER BY adc_dist, neighbor_id LIMIT 20),
         |fused AS (
         |  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |    coalesce(rank_lex, 0) AS rank_lex,
         |    coalesce(rank_vec, 0) AS rank_vec,
         |    coalesce(1.0 / (CAST(60 AS DOUBLE) + CAST(rank_lex AS DOUBLE)), 0.0)
         |      + coalesce(1.0 / (CAST(60 AS DOUBLE) + CAST(rank_vec AS DOUBLE)), 0.0)
         |      AS rrf_score
         |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
         |SELECT doc_id, rank_lex, rank_vec, rrf_score
         |FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val bmDir = cachedBm25Index(Tables.documents(s, d), d)
      val ivDir = VectorQueries.incIndexDir(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = graft.operators.LexicalIndex.searchBm25Index(s, bmDir,
          Seq("merge", "spark", "vector"), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select("doc_id", "rank")
      val vec = SimilaritySearch.searchIvfPqIndex(s, ivDir,
          emb.filter(col("vec_id") === 0), k = 20, nProbe = 2)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq("lex" -> lex, "vec" -> vec), "doc_id", k = 10)
        .orderBy(col("rrf_score").desc, col("doc_id"))
    },

    // BPE merge application (Sennrich apply_bpe: char symbols, then
    // each merge as a rank-ordered global replace): per-doc BPE unit
    // counts under a fixed 8-merge list, plus the segmented form of
    // the first token. The oracle replays the identical replace chain.
    QueryDef.sql(
      "q_text_bpe", {
        val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
          "e" -> "r", "o" -> "n", "r" -> "e", "s" -> "t")
        // boundary-aware + chaining: double-space separators, pattern
        // consumes one boundary space per side, replacement restores it
        // (see TextAnalysis.applyBpe) — then collapse to single spaces.
        val chain = "replace(trim(" + merges.foldLeft(
          "('  ' || regexp_replace(w, '(.)', '\\1  ', 'g'))") {
          case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' $a$b ')"
        } + "), '  ', ' ')"
        s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
           |u AS (SELECT doc_id,
           |        CAST(list_sum(list_transform(t,
           |          w -> len(string_split($chain, ' ')))) AS BIGINT)
           |          AS n_bpe_units,
           |        CAST(len(t) AS INT) AS n_tokens,
           |        CASE WHEN len(t) > 0
           |             THEN (list_transform(t, w -> $chain))[1] ELSE '' END
           |          AS first_bpe
           |      FROM toks)
           |SELECT doc_id, n_tokens, coalesce(n_bpe_units, 0) AS n_bpe_units, first_bpe
           |FROM u
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
        "e" -> "r", "o" -> "n", "r" -> "e", "s" -> "t")
      Tables.documents(s, d).select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          coalesce(TextAnalysis.bpeUnitCount(col("text"), merges).cast("long"),
            lit(0L)).as("n_bpe_units"),
          coalesce(element_at(TextAnalysis.applyBpe(col("text"), merges), 1),
            lit("")).as("first_bpe"))
        .orderBy("doc_id")
    },

    // BPE TRAINING: learn 4 merges from the corpus word-frequency
    // table (pair counts weighted by word count, argmax with a
    // deterministic tie-break, boundary-aware application). The
    // oracle unrolls the same four count→argmax→replace rounds.
    QueryDef.sql(
      "q_text_bpe_learn", {
        val round = (i: Int) =>
          s"""p$i AS (SELECT arr[i] AS a, arr[i+1] AS b, CAST(SUM(wc) AS BIGINT) AS c
             |       FROM (SELECT wc, string_split(trim(s), '  ') AS arr FROM s${i - 1}),
             |            UNNEST(range(1, len(arr))) AS r(i)
             |       GROUP BY 1, 2),
             |b$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
             |s$i AS (SELECT wc, replace(s, (SELECT ' ' || a || '  ' || b || ' ' FROM b$i),
             |                           (SELECT ' ' || a || b || ' ' FROM b$i)) AS s
             |        FROM s${i - 1}),""".stripMargin
        s"""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
           |            FROM (SELECT unnest($toksDuck) AS w FROM documents)
           |            GROUP BY w),
           |s0 AS (SELECT wc, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s
           |       FROM w0),
           |${round(1)}
           |${round(2)}
           |${round(3)}
           |${round(4)}
           |fin AS (SELECT 1)
           |SELECT * FROM (
           |  SELECT 1 AS "rank", a, b, c FROM b1
           |  UNION ALL SELECT 2, a, b, c FROM b2
           |  UNION ALL SELECT 3, a, b, c FROM b3
           |  UNION ALL SELECT 4, a, b, c FROM b4)
           |ORDER BY "rank"""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      TextAnalysis.learnBpeMerges(Tables.documents(s, d), "doc_id", "text", k = 4)
        .zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "a", "b", "c")
    },

    // Percentile-band length trim: keep documents inside the exact
    // interpolated [p10, p90] token-length band — outlier-length
    // filtering with the thresholds LEARNED from the corpus, not
    // hard-coded. The percentile scalars join as a broadcast one-row
    // aggregate (the W1 pattern); the trim is then a scan filter.
    QueryDef.sql(
      "q_text_length_band",
      s"""WITH lens AS (SELECT doc_id, CAST(len($toksDuck) AS INT) AS n_tokens
         |              FROM documents),
         |band AS (SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 0.1) AS lo,
         |                quantile_cont(CAST(n_tokens AS DOUBLE), 0.9) AS hi
         |         FROM lens)
         |SELECT doc_id, n_tokens, lo, hi
         |FROM lens CROSS JOIN band
         |WHERE n_tokens >= lo AND n_tokens <= hi
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val lens = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val band = lens.agg(
        expr("percentile(CAST(n_tokens AS DOUBLE), 0.1)").as("lo"),
        expr("percentile(CAST(n_tokens AS DOUBLE), 0.9)").as("hi"))
      lens.crossJoin(broadcast(band))
        .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
        .orderBy("doc_id")
    },

    // Leakage-free split: near-dup clusters are the split unit, so a
    // near-duplicate of a holdout doc can never sit in train. Oracle =
    // the collapse recursive-CTE CC + the md5 cluster-bucket fate.
    QueryDef.sql(
      "q_sample_leakage_free",
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
         |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
         |       WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM common
         |          JOIN sizes sa ON sa.doc_id = id_a
         |          JOIN sizes sb ON sb.doc_id = id_b
         |          WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |cc(id, l) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, cc.l FROM edges e JOIN cc ON cc.id = e.b),
         |comp AS (SELECT id, min(l) AS cluster_id FROM cc GROUP BY id),
         |lab AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ('0x' || substr(md5('cluster:' || CAST(cluster_id AS VARCHAR)), 1, 14))::BIGINT
         |            % 100 < 90
         |       THEN 'train' ELSE 'holdout' END AS split
         |FROM lab
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Sampling.leakageFreeSplit(docs.select("doc_id"), pairs, "doc_id", trainPct = 90)
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    },

    // Deterministic corpus shuffle into shards: shard + intra-shard
    // position are pure md5 functions of the key — identical on every
    // re-run and engine, no RNG.
    QueryDef.sql(
      "q_sample_shuffle_shards",
      """WITH b AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
        |      % 8 AS INT) AS shard,
        |    md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
        |FROM b
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.shuffleToShards(Tables.documents(s, d).select("doc_id"), "doc_id", 8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    },

    // Similarity-graph centrality: integer-arithmetic damped power
    // iteration (PageRank shape) over the shared-shingle graph — every
    // rank is a BIGINT at fixed scale, every step an integer division,
    // so three iterations hash equal across engines (a float PageRank
    // never would). The oracle unrolls the same three iterations.
    QueryDef.sql(
      "q_graph_centrality", {
        val iter = (t: Int) =>
          s"""c$t AS (SELECT r$t.doc_id, r$t.r // degree AS c
             |        FROM r$t JOIN deg USING (doc_id)),
             |m$t AS (SELECT e.dst AS doc_id, CAST(SUM(c$t.c) AS BIGINT) AS m
             |        FROM e JOIN c$t ON c$t.doc_id = e.src GROUP BY 1),
             |r${t + 1} AS (SELECT n0.doc_id,
             |          150000000 + (85 * COALESCE(m$t.m, 0)) // 100 AS r
             |        FROM n0 LEFT JOIN m$t USING (doc_id)),""".stripMargin
        s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
           |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           |       FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS g(i)
           |       WHERE len(t) >= 3),
           |common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
           |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |           GROUP BY 1, 2),
           |e AS (SELECT ia AS src, ib AS dst FROM common WHERE c >= 2
           |      UNION ALL
           |      SELECT ib, ia FROM common WHERE c >= 2),
           |deg AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
           |        FROM e GROUP BY 1),
           |n0 AS (SELECT doc_id FROM documents),
           |r0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS r FROM n0),
           |${iter(0)}
           |${iter(1)}
           |${iter(2)}
           |fin AS (SELECT 1)
           |SELECT n0.doc_id, COALESCE(deg.degree, 0) AS degree, r3.r AS "rank"
           |FROM n0 LEFT JOIN deg USING (doc_id) JOIN r3 USING (doc_id)
           |ORDER BY n0.doc_id""".stripMargin
      }) { (s, d) =>
      graft.operators.GraphRank.similarityCentrality(
          Tables.documents(s, d), "doc_id", "text", n = 3, minShared = 2L,
          iters = 3)
        .orderBy("doc_id")
    },

    // Tokenizer-vocab induction: top-100 tokens with document
    // frequency and cumulative corpus coverage (exact BIGINT counts,
    // one IEEE division per row).
    QueryDef.sql(
      "q_text_vocab",
      s"""WITH toks AS (SELECT doc_id, unnest($toksDuck) AS term FROM documents),
         |tf AS (SELECT term, doc_id, COUNT(*) AS c FROM toks GROUP BY 1, 2),
         |counts AS (SELECT term, CAST(SUM(c) AS BIGINT) AS n_occurrences,
         |             CAST(COUNT(*) AS BIGINT) AS n_docs
         |           FROM tf GROUP BY 1),
         |total AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS tot FROM counts),
         |top AS (SELECT term, n_occurrences, n_docs,
         |          CAST(row_number() OVER (ORDER BY n_occurrences DESC, term) AS INT)
         |            AS "rank"
         |        FROM counts),
         |cum AS (SELECT "rank", term, n_occurrences, n_docs,
         |          CAST(SUM(n_occurrences) OVER (ORDER BY "rank") AS BIGINT) AS c
         |        FROM top WHERE "rank" <= 100)
         |SELECT "rank", term, n_occurrences, n_docs,
         |  CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS coverage
         |FROM cum CROSS JOIN total
         |ORDER BY "rank"""".stripMargin) { (s, d) =>
      TextAnalysis.buildVocab(Tables.documents(s, d), "doc_id", "text", topN = 100)
        .orderBy("rank")
    },

    // Corpus-trained bigram LM quality gate (KenLM/CCNet shape with
    // robust order statistics instead of log-prob sums): the oracle
    // re-trains the same bigram model from the corpus and re-derives
    // every transition probability, the per-doc MIN, the rare-
    // transition count, and the division-free keep verdict.
    QueryDef.sql(
      "q_text_lm_rare",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |bi AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b
         |       FROM toks, UNNEST(range(1, len(t))) AS r(i)),
         |ctx AS (SELECT a, COUNT(*) AS ca FROM bi GROUP BY 1),
         |big AS (SELECT a, b, COUNT(*) AS cab FROM bi GROUP BY 1, 2),
         |sc AS (SELECT bi.doc_id, CAST(cab AS DOUBLE) / CAST(ca AS DOUBLE) AS p
         |       FROM bi JOIN big USING (a, b) JOIN ctx USING (a)),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
         |          MIN(p) AS min_prob,
         |          CAST(SUM(CASE WHEN p < 0.033 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS rare_count
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |  coalesce(min_prob, 2.0) AS min_prob,
         |  coalesce(rare_count, 0) AS rare_count,
         |  coalesce(rare_count, 0) * 2 <= coalesce(n_bigrams, 0) AS kept
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.bigramLmStats(Tables.documents(s, d), "doc_id", "text",
          tau = 0.033, rareDen = 2)
        .orderBy("doc_id")
    },

    // Model-based quality filtering, fastText-classifier shape: the
    // hashing trick (md5 token -> weight slot) plus an integer weight
    // per slot; the oracle re-derives bucket ids, slot weights, the
    // exact BIGINT logit sum and the one-division score — no
    // sum-of-doubles ordering hazard anywhere.
    QueryDef.sql(
      "q_text_model_quality",
      s"""WITH toks AS (SELECT doc_id, unnest($toksDuck) AS term FROM documents),
         |tw AS (SELECT doc_id,
         |         ('0x' || substr(md5('w:' ||
         |             CAST(('0x' || substr(md5(term), 1, 14))::BIGINT % 1024 AS VARCHAR)),
         |           1, 14))::BIGINT % 1048576 - 524288 AS w
         |       FROM toks),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
         |          CAST(SUM(w) AS BIGINT) AS logit
         |        FROM tw GROUP BY 1),
         |sc AS (SELECT d.doc_id,
         |         coalesce(a.n_tokens, 0) AS n_tokens,
         |         coalesce(a.logit, 0) AS logit,
         |         CASE WHEN coalesce(a.n_tokens, 0) > 0
         |              THEN CAST(a.logit AS DOUBLE) / (a.n_tokens * 524288.0)
         |              ELSE 0.0 END AS score
         |       FROM documents d LEFT JOIN agg a USING (doc_id))
         |SELECT doc_id, n_tokens, logit, score, score > 0.0 AS kept
         |FROM sc
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = col("text")
      val score = coalesce(TextAnalysis.hashedModelScore(t), lit(0.0))
      Tables.documents(s, d).select(
          col("doc_id"),
          coalesce(TextAnalysis.tokenCount(t), lit(0)).as("n_tokens"),
          coalesce(TextAnalysis.hashedModelLogit(t), lit(0L)).as("logit"),
          score.as("score"),
          (score > 0.0).as("kept"))
        .orderBy("doc_id")
    },

    // Domain-mix stratified sampling: per-source keep rates (the
    // training-mix reweighting step), gated on the portable md5 hash
    // so the sampled corpus is engine-reproducible row for row.
    QueryDef.sql(
      "q_sample_domain_mix",
      """SELECT doc_id, source
        |FROM documents
        |WHERE ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
        |      % 10000
        |      < CASE CAST(substr(source, 4) AS INT) % 4
        |          WHEN 0 THEN 10000 WHEN 1 THEN 5000
        |          WHEN 2 THEN 2500 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val rates = (0 until 20).map { i =>
        s"src$i" -> Seq(1.0, 0.5, 0.25, 0.1)(i % 4)
      }.toMap
      Sampling.stratifiedByHash(Tables.documents(s, d), "doc_id", "source",
          rates, defaultRate = 0.1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Temperature-reweighted mixing (α=0.5): per-source keep rates
    // DERIVED from the corpus (√N_d / Σ√N target shares, capped at
    // keep-all), then the md5-fate row filter. The oracle re-derives
    // the rates with the identical fixed-order arithmetic — sqrt is
    // the one exponent whose IEEE primitive is correctly rounded, so
    // the whole chain is bit-portable.
    QueryDef.sql(
      "q_sample_temperature",
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |             list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)) AS sumw
        |      FROM c),
        |r AS (SELECT c.source,
        |        least(CAST(1 AS DOUBLE),
        |          ((CAST(0.5 AS DOUBLE) * CAST(t.total AS DOUBLE))
        |           * (sqrt(CAST(c.n AS DOUBLE)) / t.sumw)) / CAST(c.n AS DOUBLE)) AS rate
        |      FROM c CROSS JOIN t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5(d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 14))::BIGINT
        |      % 10000
        |      < CAST(floor(r.rate * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.temperatureMix(Tables.documents(s, d), "doc_id", "source",
          targetFraction = 0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Exactly-k-per-stratum sample: md5-permutation rank inside each
    // source, keep the first 5 — the fixed-size per-domain eval-set
    // carve. Deterministic under retries; the oracle replays the
    // ranking.
    QueryDef.sql(
      "q_sample_exact_k",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.exactKPerStratum(Tables.documents(s, d), "doc_id", "source", 5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Deterministic hash-bucket dataset split (train/validation/test) —
    // reproducible across engines, retries and table growth, unlike
    // rand()-based sampling.
    QueryDef.sql(
      "q_sample_split",
      """SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100 < 80
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100 < 90
        |       THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          graft.operators.Sampling.hashBucket(col("doc_id"), 100).as("bucket"),
          graft.operators.Sampling.hashSplit(col("doc_id")).as("split"))
        .orderBy("doc_id")
    },

    // TOKEN-BUDGET sample: the maximal md5-fate-ordered prefix whose
    // cumulative token count stays within the budget — "give me
    // ~50k tokens of this corpus", the budget cut a mixture builder
    // actually needs (doc-count sampling misweights short vs long
    // docs in token space). The engine's two-phase bucket prefix sum
    // must be invisible: the oracle computes the PLAIN global
    // running sum over (hash, doc_id) order.
    QueryDef.sql(
      "q_sample_token_budget",
      s"""WITH sized AS (SELECT doc_id,
         |    CAST(len($toksDuck) AS BIGINT) AS n_tokens,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
         |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |      FROM sized)
         |SELECT doc_id, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 50000
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Sampling.tokenBudgetSample(
          Tables.documents(s, d), "doc_id", "text", 50000L)
        .orderBy("doc_id")
    },

    // Weighted sample without replacement, 7 docs per language
    // (Efraimidis-Spirakis A-ES over md5-derived uniforms): longer
    // documents are proportionally likelier, no RNG, fate per-row —
    // the deterministic "sample by quality weight" carve of a
    // training mix. The oracle replays the ln(u)/w ranking; the
    // score itself is never emitted (selection is ulp-robust, the
    // transcendental's last bit is not).
    QueryDef.sql(
      "q_sample_weighted",
      """WITH s AS (SELECT lang, doc_id, n_chars,
        |    ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 10000
        |         AS DOUBLE) + 0.5) / 10000.0)
        |      / CAST(n_chars AS DOUBLE) AS es
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY es DESC, doc_id) AS rk
        |  FROM s)
        |WHERE rk <= 7
        |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      Sampling.weightedSampleKPerStratum(
          Tables.documents(s, d), "doc_id", "n_chars", "lang", 7)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    },

    // Training-sequence packing: assign documents to ~2048-token
    // chunks per source via a windowed running total — chunk id =
    // floor(start_offset / budget). Deterministic and partition-
    // parallel (one window per source); a chunk overflows by at most
    // one document, the standard streaming-packing trade vs greedy
    // reset-at-boundary (which is inherently sequential).
    QueryDef.sql(
      "q_text_pack",
      s"""SELECT doc_id, source, n_tokens,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS chunk_id
         |FROM (
         |  SELECT doc_id, source, CAST(len($toksDuck) AS INT) AS n_tokens,
         |    SUM(CAST(len($toksDuck) AS INT)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / 2048).cast("long").as("chunk_id"))
        .orderBy("doc_id")
    },

    // Fixed-size token-window chunking with overlap (64-token chunks,
    // 16-token overlap): the RAG / pretraining context-window prep.
    // Zero shuffle — tokenize + sequence-explode + slice are all scan
    // expressions; the oracle replays the same window arithmetic.
    QueryDef.sql(
      "q_text_chunk",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
         |nc AS (SELECT doc_id, t, n,
         |         1 + greatest(0, (n - 64 + 48 - 1) // 48) AS m FROM base),
         |ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |         CAST(least(64, n - i * 48) AS INT) AS chunk_tokens,
         |         array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
         |       FROM nc, UNNEST(range(0, m)) AS g(i))
         |SELECT doc_id, chunk_idx, chunk_tokens, chunk_text FROM ch
         |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")
    },

    // Corpus-level repeated-span removal (exact-substring dedup in
    // k-gram form): any 5-gram present in >= 2 distinct docs marks its
    // positions duplicated everywhere; cleaned text = surviving tokens
    // in order. The oracle replays gram hashing, coverage expansion
    // and the ordered rebuild.
    QueryDef.sql(
      "q_dedup_spans",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS t FROM documents),
         |pos AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
         |        FROM toks, UNNEST(range(1, len(t) + 1)) AS g(i)),
         |grams AS (SELECT doc_id, i - 1 AS gpos,
         |            substr(md5(array_to_string(t[i : i + 4], ' ')), 1, 16) AS gh
         |          FROM toks, UNNEST(range(1, len(t) - 3)) AS g(i)
         |          WHERE len(t) >= 5),
         |dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM grams)
         |        GROUP BY gh HAVING COUNT(*) >= 2),
         |cov AS (SELECT DISTINCT g.doc_id, r.p
         |        FROM grams g JOIN dup USING (gh),
         |             UNNEST(range(g.gpos, g.gpos + 5)) AS r(p)),
         |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pos p
         |         LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.p = p.pos
         |         WHERE c.p IS NULL),
         |clean AS (SELECT doc_id, COUNT(*) AS n_kept,
         |            string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |          FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
         |  CAST(len(t.t) - COALESCE(c.n_kept, 0) AS INT) AS n_dup,
         |  COALESCE(c.clean_text, '') AS clean_text
         |FROM toks t LEFT JOIN clean c ON c.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.dropRepeatedSpans(Tables.documents(s, d), "doc_id", "text",
          k = 5, minDocs = 2)
        .orderBy("doc_id")
    },

    // Multimodal frame-sampling plan + byte-length metadata — the
    // deterministic, ANSI-expressible half of the media pipeline
    // (decode checksums stay rows-only below). One row per sampled
    // frame, exploded with the data.
    QueryDef.sql(
      "q_multimodal_frames",
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |  unnest(range(0, n_chars * 10, 500)) AS frame_ms
        |FROM documents
        |WHERE n_chars > 0
        |ORDER BY media_id, frame_ms""".stripMargin) { (s, d) =>
      // media table with synthetic durations (asMediaTable zeroes them)
      val withDur = Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id").cast("long").as("media_id"),
          lit("video").as("kind"),
          col("text").cast("binary").as("payload"),
          lit("video/mp4").as("mime"), lit(0).as("width"), lit(0).as("height"),
          (col("n_chars").cast("long") * 10L).as("duration_ms"))
      graft.operators.Multimodal.sampleFrames(withDur, everyMs = 500L)
        .select(col("media_id"), length(col("payload")).as("n_bytes"), col("frame_ms"))
        .orderBy("media_id", "frame_ms")
    },

    // Multimodal plumbing driven end-to-end: documents' bytes as an
    // opaque payload column → batched (stubbed) decode → features.
    // The decode kernel's checksum is the first 56 bits of md5(payload),
    // so the mapPartitions output hash-gates against plain SQL.
    QueryDef.sql(
      "q_multimodal_features",
      """SELECT doc_id AS media_id, 'image' AS kind,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  ('0x' || substr(md5(text), 1, 14))::BIGINT AS checksum
        |FROM documents
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      val media = graft.operators.Multimodal.asMediaTable(
        Tables.documents(s, d).withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", kind = "image", mime = "application/octet-stream")
      graft.operators.Multimodal.extractFeatures(s, media)
        .select("media_id", "kind", "n_bytes", "checksum")
        .orderBy("media_id")
    },

    // REAL audio decode under the hash gate: each document mints a
    // deterministic 16-bit mono PCM WAV (sample i of doc d is
    // ((d*31 + i*7919) mod 65536) - 32768, 800 + (d mod 100)*8 frames
    // at 8 kHz), the engine round-trips it through
    // javax.sound.sampled, and the oracle recomputes sample rate,
    // channels, duration, byte count and the amplitude statistics
    // from (doc_id, nFrames) arithmetic alone — a wrong header parse,
    // endianness slip or sample decode all break the hash. Frame
    // counts are multiples of 8, so duration_ms = nf/8 is exact
    // integer math in both engines; mean/min/max divisions are single
    // IEEE ops on exact integer sums.
    QueryDef.sql(
      "q_multimodal_audio",
      """WITH f AS (SELECT doc_id, 800 + (doc_id % 100) * 8 AS nf FROM documents),
        |s AS (SELECT doc_id, nf,
        |        list_transform(range(0, nf),
        |          i -> CAST(((doc_id * 31 + i * 7919) % 65536) - 32768 AS BIGINT)) AS pcm
        |      FROM f)
        |SELECT doc_id AS media_id,
        |  CAST(44 + nf * 2 AS INT) AS n_bytes,
        |  TRUE AS decoded,
        |  8000 AS sample_rate, 1 AS channels,
        |  CAST(nf // 8 AS BIGINT) AS duration_ms,
        |  CAST((CAST(list_sum(pcm) AS DOUBLE) / nf) / 32768.0 AS REAL) AS mean_norm,
        |  CAST(CAST(list_min(pcm) AS DOUBLE) / 32768.0 AS REAL) AS min_norm,
        |  CAST(CAST(list_max(pcm) AS DOUBLE) / 32768.0 AS REAL) AS max_norm
        |FROM s
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val nf = 800 + (id % 100).toInt * 8
          (id, "audio",
            graft.operators.Multimodal.synthWavPcm16(id, nf, 8000),
            "audio/wav", 0, 0, 0L)
        })
        .toDF("media_id", "kind", "payload", "mime", "width", "height", "duration_ms")
      graft.operators.Multimodal.extractFeatures(s, media)
        .select(col("media_id"), col("n_bytes"), col("decoded"),
          col("sample_rate"), col("channels"), col("duration_ms"),
          element_at(col("features"), 1).as("mean_norm"),
          element_at(col("features"), 3).as("min_norm"),
          element_at(col("features"), 4).as("max_norm"))
        .orderBy("media_id")
    },

    // REAL image decode under the hash gate: each document mints a
    // deterministic 18×16 grayscale BMP (pixel (x,y) of image d is
    // (d·31 + x·7 + y·131) mod 256, written bottom-up per the
    // format), the engine round-trips it through javax.imageio, and
    // the perceptual dHash — 2×2 integer block sums on a 9×8 grid,
    // one bit per adjacent-cell compare — is recomputed by the
    // oracle from (doc_id, x, y) arithmetic alone. A wrong BMP
    // header, a y-flip in the bottom-up row order, a luma slip or a
    // block-sum bug each break the hash. Emitted as two 32-bit
    // halves so no engine touches a 64-bit sign bit.
    QueryDef.sql(
      "q_multimodal_dhash", {
        def cs(cx: String, cy: String) =
          s"(((doc_id*31 + (2*($cx))*7 + (2*($cy))*131) % 256) + " +
            s"((doc_id*31 + (2*($cx)+1)*7 + (2*($cy))*131) % 256) + " +
            s"((doc_id*31 + (2*($cx))*7 + (2*($cy)+1)*131) % 256) + " +
            s"((doc_id*31 + (2*($cx)+1)*7 + (2*($cy)+1)*131) % 256))"
        s"""SELECT doc_id AS media_id,
           |  CAST(list_sum(list_transform(range(0, 32),
           |    b -> CASE WHEN ${cs("b % 8", "b // 8")} < ${cs("b % 8 + 1", "b // 8")}
           |              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS dhash_lo,
           |  CAST(list_sum(list_transform(range(32, 64),
           |    b -> CASE WHEN ${cs("b % 8", "b // 8")} < ${cs("b % 8 + 1", "b // 8")}
           |              THEN (1::BIGINT << (b - 32)) ELSE 0 END)) AS BIGINT) AS dhash_hi
           |FROM documents
           |ORDER BY media_id""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = graft.operators.Multimodal.synthBmpSeeded(id, 18, 16)
          val (lo, hi) = graft.operators.Multimodal.dHash(bytes)
            .getOrElse(sys.error(s"BMP $id failed to decode"))
          (id, lo, hi)
        })
        .toDF("media_id", "dhash_lo", "dhash_hi")
        .orderBy("media_id")
    },

    // Exact media dedup by content hash, exercised on a simulated
    // re-ingest (every payload arrives twice under different ids):
    // byte-identical media collapse to the lowest id; only the
    // (16-byte md5, byte length) key + id ever shuffle, never the
    // payload.
    QueryDef.sql(
      "q_multimodal_dedup",
      """WITH media AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents),
        |g AS (SELECT md5(text) AS content_hash, strlen(text) AS n_bytes,
        |        min(media_id) AS keep_id, COUNT(*) AS dup_count
        |      FROM media GROUP BY 1, 2)
        |SELECT content_hash, CAST(n_bytes AS INT) AS n_bytes, keep_id, dup_count
        |FROM g
        |ORDER BY content_hash""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("media_id"),
          col("text").cast("binary").as("payload"))
      val reingested = docs.unionByName(
        docs.select((col("media_id") + 1000000L).as("media_id"), col("payload")))
      graft.operators.Multimodal.dedupExact(reingested)
        .orderBy("content_hash")
    },

    // Video near-dup via per-frame dHash sequences, REAL decode under
    // the hash gate: every 5th document mints a 4-frame synthetic
    // "video" (18×16 BMPs, pixel = ((seed%9973)(x+3) + (seed%9949)(y+7)
    // + 31xy) mod 199, seed = v·7919 + k·104729 — two residues plus an
    // x·y cross term, so the frame pattern is NOT affine in (x,y) and
    // distinct seeds virtually never collide on the 64-bit dHash);
    // every 3rd such video gets a TWIN
    // whose first 3 frames are the SAME content at +20 brightness
    // (dHash is shift-invariant — the oracle derives their hashes
    // from the UNSHIFTED formula, so a broken invariance breaks the
    // gate) and whose 4th frame is its own content. Frame-aligned
    // signature matching at ≥ 60% of the longer video pairs each
    // twin with its source (3/4 frames), then the CC collapse labels
    // clusters — replayed in the oracle with the recursive min-label
    // CTE (the q_dedup_collapse pattern).
    QueryDef.sql(
      "q_multimodal_video_neardup", {
        def px(x: String, y: String) =
          s"(((seed % 9973)*(($x) + 3) + (seed % 9949)*(($y) + 7) + ($x)*($y)*31) % 199)"
        def cs(cx: String, cy: String) =
          s"(${px(s"2*($cx)", s"2*($cy)")} + ${px(s"2*($cx)+1", s"2*($cy)")} + " +
            s"${px(s"2*($cx)", s"2*($cy)+1")} + ${px(s"2*($cx)+1", s"2*($cy)+1")})"
        s"""WITH RECURSIVE vids AS (
           |  SELECT doc_id AS v FROM documents WHERE doc_id % 5 = 0),
           |sigsrc AS (
           |  SELECT v AS video_id, CAST(g.k AS INT) AS k, v*7919 + g.k*104729 AS seed
           |  FROM vids, UNNEST(range(0, 4)) AS g(k)
           |  UNION ALL
           |  SELECT v + 10000000, CAST(g.k AS INT), v*7919 + g.k*104729
           |  FROM vids, UNNEST(range(0, 3)) AS g(k) WHERE v % 3 = 0
           |  UNION ALL
           |  SELECT v + 10000000, 3, (v + 10000000)*7919 + 3*104729
           |  FROM vids WHERE v % 3 = 0),
           |sig AS (
           |  SELECT video_id, k,
           |    CAST(list_sum(list_transform(range(0, 32),
           |      b -> CASE WHEN ${cs("b % 8", "b // 8")} < ${cs("b % 8 + 1", "b // 8")}
           |                THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS lo,
           |    CAST(list_sum(list_transform(range(32, 64),
           |      b -> CASE WHEN ${cs("b % 8", "b // 8")} < ${cs("b % 8 + 1", "b // 8")}
           |                THEN (1::BIGINT << (b - 32)) ELSE 0 END)) AS BIGINT) AS hi
           |  FROM sigsrc),
           |nf AS (SELECT video_id, COUNT(*) AS nf FROM sig GROUP BY 1),
           |cand AS (
           |  SELECT a.video_id AS id_a, b.video_id AS id_b, COUNT(*) AS n_match
           |  FROM sig a JOIN sig b
           |    ON a.k = b.k AND a.lo = b.lo AND a.hi = b.hi AND a.video_id < b.video_id
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT id_a, id_b FROM cand
           |  JOIN nf na ON na.video_id = id_a
           |  JOIN nf nb ON nb.video_id = id_b
           |  WHERE CAST(n_match AS DOUBLE) >= 0.6 * CAST(GREATEST(na.nf, nb.nf) AS DOUBLE)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |cc(id, l) AS (
           |  SELECT a, a FROM edges
           |  UNION
           |  SELECT e.a, cc.l FROM edges e JOIN cc ON cc.id = e.b),
           |comp AS (SELECT id, min(l) AS cluster_id FROM cc GROUP BY id)
           |SELECT s.video_id, COALESCE(c.cluster_id, s.video_id) AS cluster_id,
           |  s.video_id = COALESCE(c.cluster_id, s.video_id) AS kept
           |FROM (SELECT DISTINCT video_id FROM sig) s
           |LEFT JOIN comp c ON c.id = s.video_id
           |ORDER BY video_id""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val vids = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").cast("long")).as[Long]
      val frames = vids.flatMap { v =>
        def bmp(seed: Long, shift: Int): Array[Byte] =
          graft.operators.Multimodal.synthBmp24(18, 16)((x, y) =>
            ((((seed % 9973L) * (x + 3) + (seed % 9949L) * (y + 7) +
              x * y * 31L) % 199L) + shift).toInt)
        val origs = (0 until 4).map(k => (v, k, bmp(v * 7919L + k * 104729L, 0)))
        val twins =
          if (v % 3 == 0) {
            val t = v + 10000000L
            (0 until 3).map(k => (t, k, bmp(v * 7919L + k * 104729L, 20))) :+
              ((t, 3, bmp(t * 7919L + 3 * 104729L, 0)))
          } else Nil
        origs ++ twins
      }.toDF("video_id", "frame_idx", "payload")
      val pairs = graft.operators.Multimodal.videoNearDup(frames, 0.6)
        .select("id_a", "id_b")
      val videos = frames.select(col("video_id")).distinct()
      graft.operators.Dedup.collapseNearDuplicates(videos, pairs, "video_id")
        .select("video_id", "cluster_id", "kept")
        .orderBy("video_id")
    },

    // The PLUGGED decoder under the hash gate: each document mints a
    // deterministic 12×10 binary PPM (P6, with a header comment —
    // channel (r,g,b) of pixel (x,y) of image d is
    // ((d·31+x·7+y·131), (d·17+x·13+y·37), (d·53+x·3+y·11+x·y)) mod
    // 256), a format the JRE's ImageIO has NO reader for — the
    // built-in path would emit hash-derived fallback features with
    // decoded=false. `extractFeatures(decoder = Some(PpmDecoder))`
    // must instead decode it for real: decoded=true, true dimensions,
    // and channel/luma means produced by the SAME pixel-statistic
    // kernel as the built-in image path, recomputed by the oracle
    // from (doc_id, x, y) arithmetic alone (exact integer channel
    // sums; the luma sum's integer division; one IEEE
    // division/scale chain per mean, replayed in the same order). A
    // decoder that misparses the header, drops the comment line,
    // mis-scales a sample or diverges from the shared kernel's
    // arithmetic breaks the hash.
    QueryDef.sql(
      "q_multimodal_ppm_decode",
      """WITH px AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 120),
        |      i -> (doc_id*31 + (i % 12)*7 + (i // 12)*131) % 256)) AS BIGINT) AS rs,
        |    CAST(list_sum(list_transform(range(0, 120),
        |      i -> (doc_id*17 + (i % 12)*13 + (i // 12)*37) % 256)) AS BIGINT) AS gs,
        |    CAST(list_sum(list_transform(range(0, 120),
        |      i -> (doc_id*53 + (i % 12)*3 + (i // 12)*11 + (i % 12)*(i // 12)) % 256)) AS BIGINT) AS bs
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(389 AS INT) AS n_bytes, TRUE AS decoded,
        |  12 AS decoded_width, 10 AS decoded_height,
        |  CAST(((CAST(rs AS DOUBLE) / 120) / 255.0 * 2 - 1) AS REAL) AS mean_r,
        |  CAST(((CAST(gs AS DOUBLE) / 120) / 255.0 * 2 - 1) AS REAL) AS mean_g,
        |  CAST(((CAST(bs AS DOUBLE) / 120) / 255.0 * 2 - 1) AS REAL) AS mean_b,
        |  CAST(((CAST((rs*299 + gs*587 + bs*114) // 1000 AS DOUBLE) / 120) / 255.0 * 2 - 1) AS REAL) AS mean_luma
        |FROM px
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = graft.operators.PpmDecoder.encodeP6(12, 10)((x, y) => (
            ((id * 31 + x * 7 + y * 131) % 256).toInt,
            ((id * 17 + x * 13 + y * 37) % 256).toInt,
            ((id * 53 + x * 3 + y * 11 + x * y) % 256).toInt))
          (id, "image", bytes, "image/x-portable-pixmap", 0, 0, 0L)
        })
        .toDF("media_id", "kind", "payload", "mime", "width", "height", "duration_ms")
      graft.operators.Multimodal.extractFeatures(s, media,
          decoder = Some(graft.operators.PpmDecoder))
        .select(col("media_id"), col("n_bytes"), col("decoded"),
          col("decoded_width"), col("decoded_height"),
          element_at(col("features"), 1).as("mean_r"),
          element_at(col("features"), 2).as("mean_g"),
          element_at(col("features"), 3).as("mean_b"),
          element_at(col("features"), 4).as("mean_luma"))
        .orderBy("media_id")
    },

    // Codec-independence of the perceptual hash, under the hash gate:
    // a MIXED-codec corpus (even docs mint the 18×16 grayscale BMP of
    // q_multimodal_dhash; odd docs mint a binary PGM of the SAME
    // pixel formula — a format ImageIO cannot read) hashed through
    // ONE reader seam (`dHash(read = PpmDecoder.readOrImageIO)`:
    // Netpbm first, ImageIO fallback). The oracle derives every hash
    // from the shared (doc_id, x, y) formula with no codec term at
    // all — if the PGM path decoded pixels even one gray level off,
    // or the seam's fallback ordering broke the BMP half, the hash
    // splits by parity and the gate fails. This is the property that
    // makes mixed-codec corpora dedup correctly at 100 TB.
    QueryDef.sql(
      "q_multimodal_ppm_dhash", {
        def cs(cx: String, cy: String) =
          s"(((doc_id*31 + (2*($cx))*7 + (2*($cy))*131) % 256) + " +
            s"((doc_id*31 + (2*($cx)+1)*7 + (2*($cy))*131) % 256) + " +
            s"((doc_id*31 + (2*($cx))*7 + (2*($cy)+1)*131) % 256) + " +
            s"((doc_id*31 + (2*($cx)+1)*7 + (2*($cy)+1)*131) % 256))"
        s"""SELECT doc_id AS media_id,
           |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'pgm' END AS codec,
           |  CAST(list_sum(list_transform(range(0, 32),
           |    b -> CASE WHEN ${cs("b % 8", "b // 8")} < ${cs("b % 8 + 1", "b // 8")}
           |              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS dhash_lo,
           |  CAST(list_sum(list_transform(range(32, 64),
           |    b -> CASE WHEN ${cs("b % 8", "b // 8")} < ${cs("b % 8 + 1", "b // 8")}
           |              THEN (1::BIGINT << (b - 32)) ELSE 0 END)) AS BIGINT) AS dhash_hi
           |FROM documents
           |ORDER BY media_id""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes =
            if (id % 2 == 0) graft.operators.Multimodal.synthBmpSeeded(id, 18, 16)
            else graft.operators.PpmDecoder.encodeP5(18, 16)((x, y) =>
              ((id * 31 + x * 7 + y * 131) % 256).toInt)
          val (lo, hi) = graft.operators.Multimodal.dHash(bytes,
            read = graft.operators.PpmDecoder.readOrImageIO)
            .getOrElse(sys.error(s"media $id failed to decode"))
          (id, if (id % 2 == 0) "bmp" else "pgm", lo, hi)
        })
        .toDF("media_id", "codec", "dhash_lo", "dhash_hi")
        .orderBy("media_id")
    })
}
