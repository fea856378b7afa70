package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, SimilaritySearch}

/** Similarity-search queries over the `embeddings` table. The
  * brute-force cosine top-k is oracle-checked: both engines fold the
  * dot product left-to-right in double precision over identical
  * float32 inputs, so scores are bit-deterministic. The LSH ANN path
  * is rows-only (seeded-hyperplane buckets aren't ANSI-expressible);
  * its recall against brute force is asserted in VectorSpec. */
object VectorQueries {

  /** One on-disk IVF-PQ index per dataset dir, built on first use and
    * reused by every rerun in the JVM (gate + bench share it), then
    * deleted on exit — repeated runs neither leak temp directories
    * nor re-pay the index-build I/O inside the timed query. */
  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // the cache key includes the source's on-disk state: a dataset
  // regenerated in place mid-JVM must not be served a stale index.
  // The stamp digests every file's (name, length, mtime) — Spark part
  // filenames are unique per write job, so any rewrite changes the
  // stamp even when sizes and coarse mtimes collide
  private def sourceStamp(datasetDir: String): String = {
    val f = new java.io.File(s"$datasetDir/embeddings.parquet")
    val files = if (f.isDirectory) f.listFiles().toSeq else Seq(f)
    val listing = files.filter(x => x.isFile && x.getName.endsWith(".parquet"))
      .map(x => s"${x.getName}:${x.length()}:${x.lastModified()}")
      .sorted.mkString("|")
    java.util.UUID.nameUUIDFromBytes(listing.getBytes("UTF-8")).toString
  }

  private def cachedPqIndex(emb: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    pqIndexCache.computeIfAbsent(s"$datasetDir@${sourceStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_pqidx")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      SimilaritySearch.writeIvfPqIndex(emb, p.toString,
        coarseIds = 0L until 8L, pqIds = 0L until 4L, m = 4)
      p.toString
    })

  private val incIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The incrementally-MAINTAINED index: built over a deterministic
    * base subset (ids ≥ 8 with id % 7 == 5 withheld), then a change
    * feed applied — those withheld ids as `new`, id % 11 == 2 as
    * `orphaned`, id % 13 == 4 with the embedding REVERSED as
    * `updated` (reversal is arithmetic-free, so both engines agree
    * bit-for-bit on the updated vectors). The oracle replays the
    * search over the post-change corpus directly, which is exactly
    * the incremental ≡ rebuild claim under the hash gate. */
  private def cachedIncIndex(emb: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    incIndexCache.computeIfAbsent(s"$datasetDir@${sourceStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_incidx")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      val high = col("vec_id") >= 8
      val base = emb.filter(!high || col("vec_id") % 7 =!= 5)
      SimilaritySearch.writeIvfPqIndex(base, p.toString,
        coarseIds = 0L until 8L, pqIds = 0L until 4L, m = 4)
      SimilaritySearch.applyIvfPqIndexChanges(emb.sparkSession, p.toString,
        incFeed(emb)): Unit
      p.toString
    })

  /** The maintained-index dir for cross-module composition gates
    * (q_retrieval_hybrid_indexed fuses this index's shortlist with the
    * maintained BM25 one). */
  private[queries] def incIndexDir(s: org.apache.spark.sql.SparkSession,
      datasetDir: String): String =
    cachedIncIndex(graft.Tables.embeddings(s, datasetDir), datasetDir)

  private def incFeed(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val high = col("vec_id") >= 8
    val nw = emb.filter(high && col("vec_id") % 7 === 5)
      .withColumn("_change", lit("new"))
    val dl = emb.filter(high && col("vec_id") % 7 =!= 5 &&
        col("vec_id") % 11 === 2)
      .withColumn("_change", lit("orphaned"))
    val up = emb.filter(high && col("vec_id") % 7 =!= 5 &&
        col("vec_id") % 11 =!= 2 && col("vec_id") % 13 === 4)
      .withColumn("embedding", reverse(col("embedding")))
      .withColumn("_change", lit("updated"))
    nw.unionByName(dl).unionByName(up)
  }

  private val lsmIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The same base index and feed as [[cachedIncIndex]], but
    * maintained in APPEND mode and deliberately left UNCOMPACTED —
    * the gate search must read through live tombstones and the
    * multi-dir append log. */
  private def cachedLsmIndex(emb: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    lsmIndexCache.computeIfAbsent(s"$datasetDir@${sourceStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_lsmidx")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      val high = col("vec_id") >= 8
      val base = emb.filter(!high || col("vec_id") % 7 =!= 5)
      SimilaritySearch.writeIvfPqIndex(base, p.toString,
        coarseIds = 0L until 8L, pqIds = 0L until 4L, m = 4)
      SimilaritySearch.applyIvfPqIndexChanges(emb.sparkSession, p.toString,
        incFeed(emb), mode = "append"): Unit
      p.toString
    })

  /** The post-feed corpus — what [[incFeed]] leaves behind: feed
    * orphans gone, updated embeddings reversed, new ids present. This
    * is the corpus of record a retrain trains on (and exactly the `e`
    * CTE the maintained-index oracles derive). */
  private def postFeedCorpus(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val high = col("vec_id") >= 8
    emb.filter(!(high && col("vec_id") % 7 =!= 5 && col("vec_id") % 11 === 2))
      .withColumn("embedding",
        when(high && col("vec_id") % 7 =!= 5 && col("vec_id") % 11 =!= 2 &&
            col("vec_id") % 13 === 4, reverse(col("embedding")))
          .otherwise(col("embedding")))
  }

  private val streamIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The same base index and feed as [[cachedIncIndex]], but
    * maintained FROM A STREAM: a checkpointed StreamingQuery applies
    * one append-mode delta per micro-batch
    * ([[SimilaritySearch.ivfPqIndexSink]], with the per-batch
    * compaction trigger). */
  private def cachedStreamIndex(emb: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    streamIndexCache.computeIfAbsent(s"$datasetDir@${sourceStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_ivfstream")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      val s = emb.sparkSession
      val high = col("vec_id") >= 8
      val base = emb.filter(!high || col("vec_id") % 7 =!= 5)
      SimilaritySearch.writeIvfPqIndex(base, s"$p/index",
        coarseIds = 0L until 8L, pqIds = 0L until 4L, m = 4)
      val feed = incFeed(emb).select("vec_id", "embedding", "_change")
      feed.repartition(3).write.mode("overwrite").parquet(s"$p/feed")
      val stream = s.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$p/feed")
      val q = SimilaritySearch.ivfPqIndexSink(stream, s"$p/index", s"$p/ckpt")
      try q.processAllAvailable() finally q.stop()
      s"$p/index"
    })

  private val partIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The PER-FILTER-PARTITION index family (percent-scale filtered
    * ANN): the same base corpus and change feed as [[cachedIncIndex]],
    * but the corpus is partitioned on `part = vec_id % 4` with one
    * IVF-PQ index per value (shared quantizers) and the feed is
    * ROUTED ([[SimilaritySearch.applyPartitionedIvfPqIndexChanges]]).
    * With shared quantizers, routed search over a value set is
    * provably the monolithic filtered search — which is exactly what
    * the oracle derives. */
  private def cachedPartIndex(emb: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    partIndexCache.computeIfAbsent(s"$datasetDir@${sourceStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_partidx")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      def withPart(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("part", (col("vec_id") % 4).cast("long"))
      val high = col("vec_id") >= 8
      val base = emb.filter(!high || col("vec_id") % 7 =!= 5)
      SimilaritySearch.writePartitionedIvfPqIndex(withPart(base), p.toString,
        "part", coarseIds = 0L until 8L, pqIds = 0L until 4L, m = 4): Unit
      SimilaritySearch.applyPartitionedIvfPqIndexChanges(emb.sparkSession,
        p.toString, "part", withPart(incFeed(emb))): Unit
      p.toString
    })

  private val partStreamIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The partitioned family maintained FROM A STREAM: same base and
    * feed as [[cachedPartIndex]], but the routed applies arrive as a
    * real checkpointed multi-micro-batch StreamingQuery
    * ([[SimilaritySearch.partitionedIvfPqIndexSink]]). */
  private def cachedPartStreamIndex(emb: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    partStreamIndexCache.computeIfAbsent(s"$datasetDir@${sourceStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_partstream")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      val s = emb.sparkSession
      def withPart(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("part", (col("vec_id") % 4).cast("long"))
      val high = col("vec_id") >= 8
      val base = emb.filter(!high || col("vec_id") % 7 =!= 5)
      SimilaritySearch.writePartitionedIvfPqIndex(withPart(base),
        s"$p/index", "part", coarseIds = 0L until 8L, pqIds = 0L until 4L,
        m = 4): Unit
      val feed = withPart(incFeed(emb))
        .select("vec_id", "embedding", "_change", "part")
      feed.repartition(3).write.mode("overwrite").parquet(s"$p/feed")
      val stream = s.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$p/feed")
      val q = SimilaritySearch.partitionedIvfPqIndexSink(stream, s"$p/index",
        "part", s"$p/ckpt")
      try q.processAllAvailable() finally q.stop()
      s"$p/index"
    })

  private val retrainIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The RETRAINED index: base build + append-mode feed (left
    * uncompacted, live tombstones), then
    * a retrain ([[SimilaritySearch.writeIvfPqIndex]] into the same
    * root) over the post-feed corpus
    * with DIFFERENT quantizer training ids (coarse 8-16, pq 17-20 —
    * the swap is detectable: searching through the old quantizers
    * breaks the hash), then one MORE append-mode feed (ids
    * % 19 == 7 orphaned) applied to the NEW generation — retrain and
    * continued maintenance, end to end. */
  private def cachedRetrainIndex(emb: org.apache.spark.sql.DataFrame,
      datasetDir: String): String =
    retrainIndexCache.computeIfAbsent(s"$datasetDir@${sourceStamp(datasetDir)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_retrainidx")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val all = Files.walk(p).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
        }
      }: Unit
      val s = emb.sparkSession
      val high = col("vec_id") >= 8
      val base = emb.filter(!high || col("vec_id") % 7 =!= 5)
      SimilaritySearch.writeIvfPqIndex(base, p.toString,
        coarseIds = 0L until 8L, pqIds = 0L until 4L, m = 4)
      SimilaritySearch.applyIvfPqIndexChanges(s, p.toString,
        incFeed(emb), mode = "append"): Unit
      val post1 = postFeedCorpus(emb)
      SimilaritySearch.writeIvfPqIndex(post1, p.toString,
        coarseIds = Seq(8L, 9L, 10L, 11L, 12L, 14L, 15L, 16L),
        pqIds = Seq(17L, 18L, 19L, 20L), m = 4): Unit
      val feed2 = post1.filter(col("vec_id") % 19 === 7)
        .withColumn("_change", lit("orphaned"))
      SimilaritySearch.applyIvfPqIndexChanges(s, p.toString, feed2,
        mode = "append"): Unit
      p.toString
    })

  /** The maintained-index oracle, parameterized: derives the whole
    * IVF-PQ search in SQL from the POST-CHANGE corpus — coarse
    * assignment, PQ codes, 2-probe selection, ADC rerank — knowing
    * nothing of any index, manifest, tombstone, or generation. A
    * stale code, lost delete, resurrected row, or un-swapped
    * quantizer all break the hash. `corpusAnd` narrows the corpus
    * further (later feeds / retention); `cbWhere` / `coWhere` select
    * the PQ / coarse training rows (post-retrain gates pass the NEW
    * quantizer ids); `candAnd` narrows the candidate set (the
    * metadata-filtered-ANN gate). */
  private def ivfPqMaintainedOracle(corpusAnd: String, cbWhere: String,
      coWhere: String, candAnd: String = ""): String =
    ivfPqCandidateCtes(corpusAnd, cbWhere, coWhere, candAnd) + "\n" +
      s"""rk AS (SELECT query_id, neighbor_id, adc_dist,
         |         row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
         |           AS "rank"
         |       FROM adc)
         |SELECT query_id, "rank", neighbor_id, adc_dist
         |FROM rk WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin

  /** The shared WITH-chain through the ADC candidate distances (CTE
    * `adc`); tails compose the plain ranking
    * ([[ivfPqMaintainedOracle]]) or the exact-vector rerank
    * (q_vec_ivfpq_refined). Ends with a trailing comma. */
  private def ivfPqCandidateCtes(corpusAnd: String, cbWhere: String,
      coWhere: String, candAnd: String = ""): String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id >= 8 AND vec_id % 7 <> 5 AND vec_id % 11 <> 2
       |              AND vec_id % 13 = 4
       |         THEN list_transform(range(1, len(embedding) + 1),
       |                i -> embedding[len(embedding) + 1 - i])
       |         ELSE embedding END AS v
       |  FROM embeddings
       |  WHERE NOT (vec_id >= 8 AND vec_id % 7 <> 5 AND vec_id % 11 = 2)$corpusAnd),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv
       |       FROM e WHERE $cbWhere),
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
       |       FROM e WHERE $coWhere),
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
       |            FROM ad WHERE vec_id < 5)
       |          WHERE rn <= 2),
       |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |         FROM probe p JOIN assign a USING (li)
       |         WHERE a.vec_id <> p.query_id$candAnd),
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
       |        FROM dj GROUP BY 1, 2),""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "q_vec_topk_cosine",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |t AS (SELECT vec_id AS neighbor_id, embedding AS tv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_sum(list_transform(range(1, len(tv) + 1),
        |        i -> CAST(tv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(tv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      AS score
        |  FROM t CROSS JOIN q
        |  WHERE neighbor_id <> query_id),
        |rk AS (SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
        |       FROM scored)
        |SELECT query_id, "rank", neighbor_id, score
        |FROM rk WHERE "rank" <= 10
        |ORDER BY query_id, "rank"""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .orderBy("query_id", "rank")
    },

    // Matryoshka truncate-then-rerank funnel (MRL, Kusupati et al.
    // NeurIPS'22): shortlist 20 candidates per query on the 16-dim
    // PREFIX cosine (1/4 the flops and vector bandwidth of the full
    // scan), then exact 64-dim rerank of only the shortlist. Both
    // stages are IEEE-deterministic, so DuckDB replays the entire
    // funnel — prefix slice, shortlist boundary, rerank — bit-exactly.
    QueryDef.sql(
      "q_vec_matryoshka",
      """WITH q AS (SELECT vec_id AS query_id, embedding[1:16] AS qv,
        |             embedding AS qfull
        |           FROM embeddings WHERE vec_id < 5),
        |t AS (SELECT vec_id AS neighbor_id, embedding[1:16] AS tv,
        |        embedding AS tfull
        |      FROM embeddings),
        |pre AS (
        |  SELECT query_id, neighbor_id, qfull, tfull,
        |    list_sum(list_transform(range(1, len(tv) + 1),
        |        i -> CAST(tv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(tv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      AS pscore
        |  FROM t CROSS JOIN q
        |  WHERE neighbor_id <> query_id
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |                             ORDER BY pscore DESC, neighbor_id) <= 20),
        |rr AS (
        |  SELECT query_id, neighbor_id,
        |    list_sum(list_transform(range(1, len(tfull) + 1),
        |        i -> CAST(tfull[i] AS DOUBLE) * CAST(qfull[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(qfull, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(tfull, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      AS score
        |  FROM pre),
        |rk AS (SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, neighbor_id) AS "rank"
        |       FROM rr)
        |SELECT query_id, "rank", neighbor_id, score
        |FROM rk WHERE "rank" <= 5
        |ORDER BY query_id, "rank"""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.matryoshkaRerank(emb, emb.filter(col("vec_id") < 5),
          dims = 16, shortlist = 20, k = 5)
        .orderBy("query_id", "rank")
    },

    // Embedding-cosine near-dup pairs — exact baseline under the hash
    // gate (both engines fold dot products left-to-right in double).
    // The LSH-bucketed scale variant is recall-pinned in DedupSpec.
    QueryDef.sql(
      "q_dedup_embedding",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine
        |FROM s WHERE cosine >= 0.45
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, d), "vec_id", "embedding", 0.45)
        .orderBy("id_a", "id_b")
    },

    // The LSH-bucketed PRODUCTION path of embedding near-dup under the
    // full hash gate (same seeded-hyperplane replay trick as
    // q_vec_ann_lsh): bucketing, margin-guided multiprobe fan-out,
    // bucket-size cap, candidate self-join and exact-cosine verify are
    // all recomputed independently by DuckDB. Gate config nBits=4 /
    // nProbe=3 (not the tau>=0.9 production default of 10 bits): this
    // synthetic table's near-dups top out at cosine ~0.5-0.6, where
    // 10-bit sign-collision probability is ~2%, which would gate an
    // all-or-mostly-empty result; 4 bits keeps 9 (sf0.01) / 105
    // (sf0.1) survivor pairs while still cutting candidates ~2.3x vs
    // all-pairs — a non-degenerate pin of the exact algorithm.
    QueryDef.sql(
      "q_dedup_embedding_lsh", {
        val planes = SimilaritySearch.randomPlanes(4, 64)
        val pLit = planes.map(_.map(v =>
            "%.17E".formatLocal(java.util.Locale.ROOT, v))
          .mkString("[", ", ", "]")).mkString("[", ", ", "]")
        s"""WITH pr AS (SELECT j, p[j] AS pv
           |            FROM (SELECT $pLit AS p), UNNEST(range(1, 5)) AS r(j)),
           |e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |dots AS MATERIALIZED (
           |  SELECT e.vec_id, pr.j,
           |    list_sum(list_transform(range(1, len(v) + 1),
           |      i -> CAST(v[i] AS DOUBLE) * pv[i])) AS dot
           |  FROM e, pr),
           |bucket AS (
           |  SELECT vec_id,
           |    CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END) AS BIGINT) AS b
           |  FROM dots GROUP BY vec_id),
           |flips AS (SELECT vec_id, j,
           |            row_number() OVER (PARTITION BY vec_id ORDER BY abs(dot), j) AS rn
           |          FROM dots),
           |probed AS (
           |  SELECT vec_id, b AS bucket FROM bucket
           |  UNION ALL
           |  SELECT f.vec_id, xor(b.b, (1::BIGINT << (f.j - 1)))
           |  FROM flips f JOIN bucket b USING (vec_id) WHERE f.rn <= 2),
           |capped AS (
           |  SELECT p.vec_id, p.bucket FROM probed p
           |  JOIN (SELECT bucket FROM probed GROUP BY bucket
           |        HAVING count(*) <= 4096) s USING (bucket)),
           |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           |         FROM capped x JOIN capped y
           |           ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
           |scored AS (
           |  SELECT c.id_a, c.id_b,
           |    list_sum(list_transform(range(1, len(a.v) + 1),
           |        i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
           |    / (sqrt(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           |       * sqrt(list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           |      AS cosine
           |  FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b)
           |SELECT id_a, id_b, cosine FROM scored
           |WHERE cosine >= 0.45
           |ORDER BY id_a, id_b""".stripMargin
      }) { (s, d) =>
      Dedup.embeddingNearDupsLsh(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.45, nBits = 4, dim = 64, nProbe = 3)
        .orderBy("id_a", "id_b")
    },

    // The PRODUCTION-shaped run of the same operator: nBits scales
    // with the table (~log2(n/256), the way a real deployment sizes
    // its bucket count so occupancy stays bounded as data grows) —
    // at sf10 that is 10 bits / 1024 buckets with every bucket under
    // the cap, where the 4-bit gate config above would cap out
    // entirely. FULLY hash-gated (was rows-only): the adaptive bit
    // count is replayed in SQL with EXACT integer log2 (max j with
    // (n//256) >> j >= 1 — no float log that could flake at a
    // power-of-two boundary), and since randomPlanes draws planes
    // sequentially from one seeded stream, the first `nbits` of 16
    // interpolated plane literals ARE randomPlanes(nbits) — so
    // bucketing, probing, cap, candidates and rerank all replay
    // bit-exactly at ANY scale factor's derived nbits.
    QueryDef.sql(
      "q_dedup_embedding_lsh_scale", {
        val planes = SimilaritySearch.randomPlanes(16, 64)
        val pLit = planes.map(_.map(v =>
            "%.17E".formatLocal(java.util.Locale.ROOT, v))
          .mkString("[", ", ", "]")).mkString("[", ", ", "]")
        s"""WITH nb AS (SELECT LEAST(16, GREATEST(4, COALESCE((
           |    SELECT MAX(j) FROM range(0, 63) t(j)
           |    WHERE ((SELECT count(*) FROM embeddings) // 256) >> j >= 1), 0))) AS nbits),
           |pr AS (SELECT j, p[j] AS pv
           |       FROM (SELECT $pLit AS p), UNNEST(range(1, 17)) AS r(j), nb
           |       WHERE j <= nb.nbits),
           |e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |dots AS MATERIALIZED (
           |  SELECT e.vec_id, pr.j,
           |    list_sum(list_transform(range(1, len(v) + 1),
           |      i -> CAST(v[i] AS DOUBLE) * pv[i])) AS dot
           |  FROM e, pr),
           |bucket AS (
           |  SELECT vec_id,
           |    CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END) AS BIGINT) AS b
           |  FROM dots GROUP BY vec_id),
           |flips AS (SELECT vec_id, j,
           |            row_number() OVER (PARTITION BY vec_id ORDER BY abs(dot), j) AS rn
           |          FROM dots),
           |probed AS (
           |  SELECT vec_id, b AS bucket FROM bucket
           |  UNION ALL
           |  SELECT f.vec_id, xor(b.b, (1::BIGINT << (f.j - 1)))
           |  FROM flips f JOIN bucket b USING (vec_id) WHERE f.rn <= 1),
           |capped AS (
           |  SELECT p.vec_id, p.bucket FROM probed p
           |  JOIN (SELECT bucket FROM probed GROUP BY bucket
           |        HAVING count(*) <= 4096) s USING (bucket)),
           |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           |         FROM capped x JOIN capped y
           |           ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
           |scored AS (
           |  SELECT c.id_a, c.id_b,
           |    list_sum(list_transform(range(1, len(a.v) + 1),
           |        i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
           |    / (sqrt(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           |       * sqrt(list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           |      AS cosine
           |  FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b)
           |SELECT id_a, id_b, cosine FROM scored
           |WHERE cosine >= 0.45
           |ORDER BY id_a, id_b""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      // Capped at 16 on BOTH sides: the oracle interpolates exactly 16
      // plane literals, so the derived bit count must never exceed the
      // literal pool (>=33.5M embeddings would otherwise derive 17 bits
      // engine-side and diverge at precisely the scale-up boundary).
      val nBits = math.min(16, math.max(4,
        63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / 256))))
      Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding",
          threshold = 0.45, nBits = nBits, dim = 64, nProbe = 2)
        .orderBy("id_a", "id_b")
    },

    // LSH ANN under the full hash gate: the seeded hyperplanes are
    // interpolated into the oracle as E-notation DOUBLE literals
    // (17 significant digits round-trip exactly; plain decimals would
    // infer DECIMAL in DuckDB and break bit-equality), so bucketing,
    // margin-guided multiprobe, candidate join and rerank are all
    // recomputed independently.
    QueryDef.sql(
      "q_vec_ann_lsh", {
        val planes = SimilaritySearch.randomPlanes(6, 64)
        val pLit = planes.map(_.map(v =>
            "%.17E".formatLocal(java.util.Locale.ROOT, v))
          .mkString("[", ", ", "]")).mkString("[", ", ", "]")
        s"""WITH pr AS (SELECT j, p[j] AS pv
           |            FROM (SELECT $pLit AS p), UNNEST(range(1, 7)) AS r(j)),
           |e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |dots AS (
           |  SELECT e.vec_id, pr.j,
           |    list_sum(list_transform(range(1, len(v) + 1),
           |      i -> CAST(v[i] AS DOUBLE) * pv[i])) AS dot
           |  FROM e, pr),
           |bucket AS (
           |  SELECT vec_id,
           |    CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END) AS BIGINT) AS b
           |  FROM dots GROUP BY vec_id),
           |qf AS (SELECT vec_id, j,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY abs(dot), j) AS rn
           |       FROM dots WHERE vec_id < 20),
           |probed AS (
           |  SELECT vec_id AS query_id, b AS bucket FROM bucket WHERE vec_id < 20
           |  UNION ALL
           |  SELECT f.vec_id, xor(b.b, (1::BIGINT << (f.j - 1)))
           |  FROM qf f JOIN bucket b ON b.vec_id = f.vec_id
           |  WHERE f.rn <= 2),
           |cand AS (SELECT DISTINCT p.query_id, t.vec_id AS neighbor_id
           |         FROM probed p JOIN bucket t ON t.b = p.bucket
           |         WHERE t.vec_id <> p.query_id),
           |scored AS (
           |  SELECT c.query_id, c.neighbor_id,
           |    list_sum(list_transform(range(1, len(t.v) + 1),
           |        i -> CAST(t.v[i] AS DOUBLE) * CAST(q.v[i] AS DOUBLE)))
           |    / (sqrt(list_sum(list_transform(q.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           |       * sqrt(list_sum(list_transform(t.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           |      AS score
           |  FROM cand c
           |  JOIN e q ON q.vec_id = c.query_id
           |  JOIN e t ON t.vec_id = c.neighbor_id),
           |rk AS (SELECT query_id, neighbor_id, score,
           |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
           |       FROM scored)
           |SELECT query_id, "rank", neighbor_id, score
           |FROM rk WHERE "rank" <= 5
           |ORDER BY query_id, "rank"""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.annTopK(emb, emb.filter(col("vec_id") < 20), k = 5, nBits = 6,
          nProbe = 3)
        .orderBy("query_id", "rank")
    },

    // IVF ANN under the hash gate via the seeded (k-medoid-style)
    // quantizer: centroids are the vec_id < 8 rows, so the oracle
    // recomputes assignment, probe ranking and rerank from the data
    // alone. The KMeans-trained variant (same plan shape) stays
    // spec-pinned (equals brute force at full probe).
    QueryDef.sql(
      "q_vec_ann_ivf",
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) AS li, v AS cv
        |      FROM e WHERE vec_id < 8),
        |ad AS (
        |  SELECT e.vec_id, c.li,
        |    list_sum(list_transform(range(1, len(v) + 1),
        |      i -> (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
        |           * (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))) AS d
        |  FROM e, c),
        |assign AS (SELECT vec_id, li FROM (
        |             SELECT vec_id, li,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, li) AS rn
        |             FROM ad)
        |           WHERE rn = 1),
        |probe AS (SELECT vec_id AS query_id, li FROM (
        |            SELECT vec_id, li,
        |              row_number() OVER (PARTITION BY vec_id ORDER BY d, li) AS rn
        |            FROM ad WHERE vec_id < 20)
        |          WHERE rn <= 2),
        |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        |         FROM probe p JOIN assign a USING (li)
        |         WHERE a.vec_id <> p.query_id),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    list_sum(list_transform(range(1, len(t.v) + 1),
        |        i -> CAST(t.v[i] AS DOUBLE) * CAST(q.v[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(q.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(t.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      AS score
        |  FROM cand c
        |  JOIN e q ON q.vec_id = c.query_id
        |  JOIN e t ON t.vec_id = c.neighbor_id),
        |rk AS (SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
        |       FROM scored)
        |SELECT query_id, "rank", neighbor_id, score
        |FROM rk WHERE "rank" <= 5
        |ORDER BY query_id, "rank"""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.ivfTopKSeeded(emb, emb.filter(col("vec_id") < 20), k = 5,
          centroidIds = 0L until 8L, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // SemDeDup (arXiv:2303.09540) under the full hash gate: the oracle
    // re-derives the medoid assignment (vec_id < 8 rows as centroids,
    // same argmin as q_vec_ann_ivf), the within-cluster priority
    // (centroid distance DESC, id), the pairwise cosines against every
    // higher-priority member, and the keep/drop verdict. MAX over
    // bit-identical doubles is order-independent, so the whole verdict
    // column is exactly comparable.
    QueryDef.sql(
      "q_dedup_semantic",
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS li, v AS cv
        |      FROM e WHERE vec_id < 8),
        |ad AS (
        |  SELECT e.vec_id, c.li,
        |    list_sum(list_transform(range(1, len(v) + 1),
        |      i -> (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
        |           * (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))) AS d
        |  FROM e, c),
        |assign AS (SELECT vec_id, li, d FROM (
        |             SELECT vec_id, li, d,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, li) AS rn
        |             FROM ad)
        |           WHERE rn = 1),
        |rk AS (SELECT vec_id, CAST(li AS INT) AS cluster_id, d,
        |         CAST(row_number() OVER (PARTITION BY li ORDER BY d DESC, vec_id)
        |           AS INT) AS centroid_rank
        |       FROM assign),
        |pr AS (
        |  SELECT b.vec_id,
        |    max(list_sum(list_transform(range(1, len(ea.v) + 1),
        |        i -> CAST(ea.v[i] AS DOUBLE) * CAST(eb.v[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(ea.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(eb.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))
        |      AS mps
        |  FROM rk a
        |  JOIN rk b ON a.cluster_id = b.cluster_id AND a.centroid_rank < b.centroid_rank
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  GROUP BY b.vec_id)
        |SELECT r.vec_id, r.cluster_id, r.centroid_rank,
        |  coalesce(pr.mps, -2.0) AS max_prior_sim,
        |  coalesce(pr.mps, -2.0) < 0.45 AS kept
        |FROM rk r LEFT JOIN pr ON pr.vec_id = r.vec_id
        |ORDER BY r.vec_id""".stripMargin) { (s, d) =>
      graft.operators.SemanticDedup.semanticDedup(
          Tables.embeddings(s, d), centroidIds = 0L until 8L, tau = 0.45)
        .orderBy("vec_id")
    },

    // 8-bit scalar quantization (FAISS QT_8bit shape): per-dim
    // min/max bins trained on the WHOLE corpus (min/max are exact and
    // order-independent), floor-encode, mid-bin reconstruct,
    // asymmetric squared-L2 top-5. The oracle re-derives bounds,
    // codes, reconstruction and the dim-ordered distance fold.
    QueryDef.sql(
      "q_vec_sq8",
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |mm AS (SELECT i, min(CAST(v[i] AS DOUBLE)) AS mn, max(CAST(v[i] AS DOUBLE)) AS mx
        |       FROM e CROSS JOIN UNNEST(range(1, 65)) AS s(i) GROUP BY i),
        |codes AS (
        |  SELECT vec_id, i,
        |    CAST(CASE WHEN mx > mn THEN least(greatest(
        |      floor(((CAST(v[i] AS DOUBLE) - mn) * 255.0) / (mx - mn)), 0.0), 255.0)
        |    ELSE 0.0 END AS INT) AS c
        |  FROM e CROSS JOIN UNNEST(range(1, 65)) AS s(i) JOIN mm USING (i)),
        |recon AS (
        |  SELECT vec_id, i, mn + ((CAST(c AS DOUBLE) + 0.5) * ((mx - mn) / 255.0)) AS r
        |  FROM codes JOIN mm USING (i)),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |dj AS (SELECT q.query_id, r.vec_id AS neighbor_id, r.i,
        |    (CAST(qv[r.i] AS DOUBLE) - r.r) * (CAST(qv[r.i] AS DOUBLE) - r.r) AS d
        |  FROM q CROSS JOIN recon r WHERE r.vec_id <> q.query_id),
        |dist AS (SELECT query_id, neighbor_id, list_sum(list(d ORDER BY i)) AS sq_dist
        |         FROM dj GROUP BY 1, 2),
        |rk AS (SELECT query_id, neighbor_id, sq_dist,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sq_dist, neighbor_id)
        |           AS "rank"
        |       FROM dist)
        |SELECT query_id, "rank", neighbor_id, sq_dist
        |FROM rk WHERE "rank" <= 5
        |ORDER BY query_id, "rank"""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (mins, maxs) = SimilaritySearch.sqTrain(emb)
      SimilaritySearch.sqTopK(emb, emb.filter(col("vec_id") < 5), mins, maxs, k = 5)
        .orderBy("query_id", "rank")
    },

    // Product quantization encode (Jégou et al. TPAMI'11): 64 dims ->
    // 4 subspaces x 4-entry seeded-medoid codebooks. The oracle
    // re-derives every subspace codebook from the data rows, every
    // subvector distance, and the argmin code with the same (d, ci)
    // tie-break as the kernel.
    QueryDef.sql(
      "q_vec_pq_encode",
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
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
        |           FROM sub) WHERE rn = 1)
        |SELECT vec_id, string_agg(CAST(ci AS VARCHAR), '-' ORDER BY j) AS code
        |FROM best GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cbs = SimilaritySearch.pqCodebooks(emb, 0L until 4L, m = 4)
      SimilaritySearch.pqEncode(emb, cbs)
        .select(col("vec_id"), col("code"))
        .orderBy("vec_id")
    },

    // ADC search over the PQ codes: queries keep exact vectors, table
    // rows exist only as codes; distance = sum of per-subspace
    // query-to-codebook-entry distances in subspace order (list_sum
    // over an ORDER BY j list = the plan-time-unrolled left fold).
    QueryDef.sql(
      "q_vec_pq_search",
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
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
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |dj AS (SELECT q.query_id, b.vec_id AS neighbor_id, b.j,
        |    list_sum(list_transform(range(1, 17),
        |      i -> (CAST(qv[b.j * 16 + i] AS DOUBLE) - CAST(cv[b.j * 16 + i] AS DOUBLE))
        |           * (CAST(qv[b.j * 16 + i] AS DOUBLE) - CAST(cv[b.j * 16 + i] AS DOUBLE))))
        |      AS d
        |  FROM q CROSS JOIN best b JOIN cb ON cb.ci = b.ci
        |  WHERE b.vec_id <> q.query_id),
        |adc AS (SELECT query_id, neighbor_id, list_sum(list(d ORDER BY j)) AS adc_dist
        |        FROM dj GROUP BY 1, 2),
        |rk AS (SELECT query_id, neighbor_id, adc_dist,
        |         row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
        |           AS "rank"
        |       FROM adc)
        |SELECT query_id, "rank", neighbor_id, adc_dist
        |FROM rk WHERE "rank" <= 5
        |ORDER BY query_id, "rank"""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cbs = SimilaritySearch.pqCodebooks(emb, 0L until 4L, m = 4)
      SimilaritySearch.pqTopK(emb, emb.filter(col("vec_id") < 5), cbs, k = 5)
        .orderBy("query_id", "rank")
    },

    // The on-disk IVF-PQ index end to end under the hash gate: write
    // codes partitioned by coarse list, then search via the static
    // partition-pruned read (driver-side probe selection). The oracle
    // re-derives coarse assignment (vec_id < 8 medoids), PQ codes
    // (vec_id < 4 codebooks), the 2-probe ranking and the ADC rerank.
    QueryDef.sql(
      "q_vec_pq_index",
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
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
        |            FROM ad WHERE vec_id < 5)
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
        |rk AS (SELECT query_id, neighbor_id, adc_dist,
        |         row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
        |           AS "rank"
        |       FROM adc)
        |SELECT query_id, "rank", neighbor_id, adc_dist
        |FROM rk WHERE "rank" <= 5
        |ORDER BY query_id, "rank"""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dir = cachedPqIndex(emb, d)
      SimilaritySearch.searchIvfPqIndex(s, dir,
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // Incrementally-maintained IVF-PQ index under the full hash gate:
    // the index is built on a base subset, then a new/updated/orphaned
    // change feed is applied through the manifest discipline
    // (delete-publish retraction + frozen-quantizer re-encode), and the
    // search runs over the MAINTAINED table. The oracle knows nothing
    // of the maintenance: it derives the whole search from the
    // post-change corpus state — so a stale code, a lost delete, a
    // double-insert, or a drifted quantizer all break the hash.
    QueryDef.sql(
      "q_vec_ivfpq_incremental",
      ivfPqMaintainedOracle("", "vec_id < 4", "vec_id < 8")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dir = cachedIncIndex(emb, d)
      SimilaritySearch.searchIvfPqIndex(s, dir,
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // The LOG-STRUCTURED maintenance path under the same oracle: the
    // identical base index and change feed, but applied in append
    // mode (tombstones + appended batch dirs, nothing rewritten) and
    // deliberately left uncompacted — the gate search reads through
    // the live tombstone kill and the multi-dir append log. Same
    // oracle as q_vec_ivfpq_incremental because the LOGICAL state is
    // identical; a resurrected dead row, a kill eating a same-apply
    // re-insert, or a missed append branch all break the hash.
    QueryDef.sql(
      "q_vec_ivfpq_lsm",
      ivfPqMaintainedOracle("", "vec_id < 4", "vec_id < 8")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dir = cachedLsmIndex(emb, d)
      SimilaritySearch.searchIvfPqIndex(s, dir,
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // STREAM-maintained vector index (the IVF-PQ twin of
    // q_text_bm25_stream): a checkpointed StreamingQuery applies the
    // identical change feed one append-mode delta per micro-batch,
    // with the compaction trigger run per batch. Same oracle as
    // q_vec_ivfpq_incremental — the logical state must be identical
    // regardless of which maintenance path (one-shot batch, LSM
    // append, stream) built it.
    QueryDef.sql(
      "q_vec_ivfpq_stream",
      ivfPqMaintainedOracle("", "vec_id < 4", "vec_id < 8")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dir = cachedStreamIndex(emb, d)
      SimilaritySearch.searchIvfPqIndex(s, dir,
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // Metadata-FILTERED vector search over the maintained index (the
    // filtered-ANN problem): an arbitrary predicate over the corpus
    // (vec_id % 3 == 1) becomes the allowed-id set, PRE-filtering the
    // probed candidates via a broadcast semi join so the top-k ranks
    // among allowed vectors only — post-filtering the unfiltered
    // top-k would return short lists under any selective predicate.
    // Same maintained index as q_vec_ivfpq_incremental; the oracle
    // narrows its candidate CTE with the same predicate.
    QueryDef.sql(
      "q_vec_ivfpq_filtered",
      ivfPqMaintainedOracle("", "vec_id < 4", "vec_id < 8",
        " AND a.vec_id % 3 = 1")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dir = cachedIncIndex(emb, d)
      SimilaritySearch.searchIvfPqIndex(s, dir,
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 2,
          allowedIds = Some(emb.filter(col("vec_id") % 3 === 1).select("vec_id")))
        .orderBy("query_id", "rank")
    },

    // The maintained VECTOR index driven ENTIRELY through spark.sql
    // TEXT (VERDICT r15 #7): GraftSql.registerIvfPqIndex exposes the
    // LIVE code table (generation-resolved, tombstone-filtered) plus
    // centroids and codebooks as views, and the whole 2-probe ADC
    // search — centroid probe ranking, candidate scan, per-subspace
    // ADC lookup, fixed-fold distance sum, top-k — is SQL over them.
    // The fold order mirrors the codegen kernel exactly
    // (((d0+d1)+d2)+d3, each d_j a left-fold over its 16 dims), so
    // the hash matches the DataFrame path bit for bit. Same
    // post-change-corpus oracle as q_vec_ivfpq_incremental.
    QueryDef.sql(
      "q_sql_ivfpq_index",
      ivfPqMaintainedOracle("", "vec_id < 4", "vec_id < 8")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dir = cachedIncIndex(emb, d)
      graft.GraftSql.registerIvfPqIndex(s, "vidx", dir)
      emb.createOrReplaceTempView("embeddings")
      s.sql(
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
          |           FROM embeddings WHERE vec_id < 5),
          |qc AS (SELECT q.query_id, c._list,
          |         aggregate(zip_with(q.qv, c.centroid,
          |             (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          |           CAST(0.0 AS DOUBLE), (a, v) -> a + v) AS d
          |       FROM q CROSS JOIN vidx_centroids c),
          |probe AS (SELECT query_id, _list FROM (
          |            SELECT query_id, _list,
          |              row_number() OVER (PARTITION BY query_id ORDER BY d, _list) AS rn
          |            FROM qc) WHERE rn <= 2),
          |cand AS (SELECT p.query_id, c._id AS neighbor_id, c.codes
          |         FROM probe p JOIN vidx_codes c ON c._list = p._list
          |         WHERE c._id <> p.query_id),
          |dj AS (SELECT cand.query_id, cand.neighbor_id, cb.subspace AS j,
          |         aggregate(zip_with(slice(q.qv, cb.subspace * 16 + 1, 16), cb.entry,
          |             (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          |           CAST(0.0 AS DOUBLE), (a, v) -> a + v) AS d
          |       FROM cand
          |       JOIN q ON q.query_id = cand.query_id
          |       JOIN vidx_codebooks cb
          |         ON cb.code = element_at(cand.codes, cb.subspace + 1)),
          |adc AS (SELECT query_id, neighbor_id,
          |          ((coalesce(max(CASE WHEN j = 0 THEN d END), CAST(0.0 AS DOUBLE))
          |            + coalesce(max(CASE WHEN j = 1 THEN d END), CAST(0.0 AS DOUBLE)))
          |            + coalesce(max(CASE WHEN j = 2 THEN d END), CAST(0.0 AS DOUBLE)))
          |            + coalesce(max(CASE WHEN j = 3 THEN d END), CAST(0.0 AS DOUBLE)) AS adc_dist
          |        FROM dj GROUP BY query_id, neighbor_id),
          |rk AS (SELECT query_id, neighbor_id, adc_dist,
          |         row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
          |           AS `rank`
          |       FROM adc)
          |SELECT query_id, `rank`, neighbor_id, adc_dist
          |FROM rk WHERE `rank` <= 5
          |ORDER BY query_id, `rank`""".stripMargin)
    },

    // PERCENT-SCALE filtered ANN (VERDICT r15 #3): the allowed set
    // (vec_id % 4 IN (1, 3) — half the corpus) would never broadcast
    // at scale, so no id set is materialized at all: the corpus is
    // partitioned on the filter column with one maintained index per
    // value (shared quantizers, routed change feed), and the search
    // fans out to the two matching partition indexes and merges
    // per-query top-k. The oracle narrows its candidate CTE with the
    // same predicate — with shared quantizers, routing ≡ filtering,
    // so a wrong partition split, an unrouted feed row, or a
    // per-partition quantizer drift all break the hash.
    QueryDef.sql(
      "q_vec_ivfpq_partitioned",
      ivfPqMaintainedOracle("", "vec_id < 4", "vec_id < 8",
        " AND a.vec_id % 4 IN (1, 3)")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val root = cachedPartIndex(emb, d)
      SimilaritySearch.searchPartitionedIvfPqIndex(s, root, "part",
          Seq(1L, 3L), emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // The partitioned family maintained FROM A STREAM: identical base,
    // feed and final logical state as q_vec_ivfpq_partitioned, but the
    // routed applies arrive as a checkpointed 3-micro-batch
    // StreamingQuery (partitionedIvfPqIndexSink) — so the same oracle
    // gates it; a misrouted row, a partition the stream never touched,
    // or cross-partition tombstone leakage all break the hash.
    QueryDef.sql(
      "q_vec_ivfpq_part_stream",
      ivfPqMaintainedOracle("", "vec_id < 4", "vec_id < 8",
        " AND a.vec_id % 4 IN (1, 3)")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val root = cachedPartStreamIndex(emb, d)
      SimilaritySearch.searchPartitionedIvfPqIndex(s, root, "part",
          Seq(1L, 3L), emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // Two-stage search with EXACT re-ranking over the maintained
    // index (FAISS's refine step): ADC top-20 shortlist from the
    // codes, true vectors joined back from the corpus of record,
    // exact squared-L2 top-5. The oracle replays both stages from the
    // post-change corpus — a wrong shortlist, a stale corpus join, or
    // a quantized distance leaking into the final ordering all break
    // the hash.
    QueryDef.sql(
      "q_vec_ivfpq_refined",
      ivfPqCandidateCtes("", "vec_id < 4", "vec_id < 8") + "\n" +
        s"""rk0 AS (SELECT query_id, neighbor_id,
           |          row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
           |            AS crank
           |        FROM adc),
           |short AS (SELECT query_id, neighbor_id FROM rk0 WHERE crank <= 20),
           |ex AS (SELECT s.query_id, s.neighbor_id,
           |         list_sum(list_transform(range(1, len(q.v) + 1),
           |           i -> (CAST(q.v[i] AS DOUBLE) - CAST(n.v[i] AS DOUBLE))
           |                * (CAST(q.v[i] AS DOUBLE) - CAST(n.v[i] AS DOUBLE)))) AS exact_dist
           |       FROM short s
           |       JOIN e q ON q.vec_id = s.query_id
           |       JOIN e n ON n.vec_id = s.neighbor_id),
           |rk AS (SELECT query_id, neighbor_id, exact_dist,
           |         row_number() OVER (PARTITION BY query_id ORDER BY exact_dist, neighbor_id)
           |           AS "rank"
           |       FROM ex)
           |SELECT query_id, "rank", neighbor_id, exact_dist
           |FROM rk WHERE "rank" <= 5
           |ORDER BY query_id, "rank"""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dir = cachedIncIndex(emb, d)
      SimilaritySearch.searchIvfPqIndexRefined(s, dir,
          corpus = postFeedCorpus(emb), queries = emb.filter(col("vec_id") < 5),
          k = 5, kCoarse = 20, nProbe = 2)
        .orderBy("query_id", "rank")
    },

    // RETRAINED quantizers under the hash gate: base build + append
    // feed (live tombstones), then a writeIvfPqIndex retrain over the
    // post-feed corpus with NEW training ids (coarse 8-16, pq 17-20)
    // — an atomic generation swap — then one more orphan feed applied
    // to the new generation. The oracle derives everything from the
    // post-change corpus THROUGH THE NEW QUANTIZERS: an un-swapped
    // (or torn) retrain, a reader mixing old codes with new
    // codebooks, or a post-retrain delta applied to the dead
    // generation all break the hash.
    QueryDef.sql(
      "q_vec_ivfpq_retrain",
      ivfPqMaintainedOracle("\n    AND vec_id % 19 <> 7",
        "vec_id IN (17, 18, 19, 20)",
        "vec_id IN (8, 9, 10, 11, 12, 14, 15, 16)")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val dir = cachedRetrainIndex(emb, d)
      SimilaritySearch.searchIvfPqIndex(s, dir,
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    })
}
