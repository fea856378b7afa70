package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted BM25 index maintenance: with a fixed tokenizer the index
  * content is a pure per-document function of the corpus, so applying
  * a change feed must reproduce a fresh build over the post-change
  * corpus bit-for-bit — postings, doclen AND the delta-maintained
  * stats row. Zero-token documents are the classic accounting trap
  * (they own no postings but still count in n_docs): pinned here. */
class IncrementalBm25Spec extends SparkSpec {
  import spark.implicits._

  private val baseDocs = Seq(
    (1L, "spark merge spark vector"),
    (2L, "merge of the merge tables"),
    (3L, "vector search over spark"),
    (4L, ""), // zero-token doc: in membership, not in postings
    (5L, "plain prose with no query terms"),
    (6L, "spark spark spark"),
    (7L, "the vector merge")).toDF("doc_id", "text")

  // feed: 8 arrives, 2 is erased, 6 is rewritten (loses its terms),
  // 4 (the empty doc) is erased — n_docs must drop for it too
  private def changes: DataFrame = Seq(
    (8L, "fresh spark document about vector merge", "new"),
    (2L, "", "orphaned"),
    (6L, "now about something else entirely", "updated"),
    (4L, "", "orphaned")).toDF("doc_id", "text", "_change")

  private val finalDocs = Seq(
    (1L, "spark merge spark vector"),
    (3L, "vector search over spark"),
    (5L, "plain prose with no query terms"),
    (6L, "now about something else entirely"),
    (7L, "the vector merge"),
    (8L, "fresh spark document about vector merge")).toDF("doc_id", "text")

  private def freshDir(): String =
    Files.createTempDirectory("graft_bm25idx_spec").toString

  private def builtAndApplied(): String = {
    val dir = freshDir()
    LexicalIndex.writeBm25Index(baseDocs, dir, nBuckets = 8)
    LexicalIndex.applyBm25IndexChanges(spark, dir, changes): Unit
    dir
  }

  /** The committed version dir of index root `dir`. */
  private def resolved(dir: String): String = graft.sources.Sources.resolveSnapshot(spark, dir)

  private def postings(dir: String): Seq[(String, Long, Long, Long)] =
    graft.sources.Sources.readMergePartitioned(spark, s"${resolved(dir)}/postings", "_b")
      .select("term", "doc_id", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq

  private def doclen(dir: String): Seq[(Long, Long)] =
    graft.sources.Sources.readMergePartitioned(spark, s"${resolved(dir)}/doclen", "_db")
      .select("doc_id", "dl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  private def stats(dir: String): (Long, Long) = {
    val r = graft.sources.Sources.readSnapshot(spark, s"${resolved(dir)}/stats").first()
    (r.getLong(0), r.getLong(1))
  }

  test("incremental apply equals a rebuild over the final corpus, bit for bit") {
    val inc = builtAndApplied()
    val reb = freshDir()
    LexicalIndex.writeBm25Index(finalDocs, reb, nBuckets = 8)
    assert(postings(inc) == postings(reb))
    assert(doclen(inc) == doclen(reb))
    assert(stats(inc) == stats(reb))
  }

  test("the maintained stats row equals a doclen re-aggregation") {
    val dir = builtAndApplied()
    val derived = graft.sources.Sources.readMergePartitioned(spark, s"${resolved(dir)}/doclen",
        "_db")
      .agg(count(lit(1)).cast("long"), coalesce(sum("dl"), lit(0L))).first()
    assert(stats(dir) == ((derived.getLong(0), derived.getLong(1))))
    // the zero-token deletion was accounted: 7 base - 2 erased + 1 new
    assert(stats(dir)._1 == 6L)
  }

  test("re-applying the same feed is idempotent") {
    val dir = builtAndApplied()
    val (p1, l1, s1) = (postings(dir), doclen(dir), stats(dir))
    LexicalIndex.applyBm25IndexChanges(spark, dir, changes): Unit
    assert((postings(dir), doclen(dir), stats(dir)) == ((p1, l1, s1)))
  }

  test("an updated document leaves no stale postings") {
    val dir = builtAndApplied()
    // doc 6 was all-'spark'; its rewrite contains none of the old terms
    val doc6 = postings(dir).filter(_._2 == 6L).map(_._1).toSet
    assert(!doc6.contains("spark"))
    assert(doc6 == Set("now", "about", "something", "else", "entirely"))
  }

  test("search over the maintained index equals bm25 over the final corpus") {
    val dir = builtAndApplied()
    val q = Seq("spark", "merge", "vector")
    val viaIndex = LexicalIndex.searchBm25Index(spark, dir, q, k = 10)
      .collect().map(_.toSeq).toSeq
    val viaScan = TextAnalysis.bm25(finalDocs, "doc_id", "text", q, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == viaScan)
  }

  test("append-mode apply: live content, stats and search equal the rebuild") {
    val dir = freshDir()
    LexicalIndex.writeBm25Index(baseDocs, dir, nBuckets = 8)
    LexicalIndex.applyBm25IndexChanges(spark, dir, changes, mode = "append"): Unit
    val reb = freshDir()
    LexicalIndex.writeBm25Index(finalDocs, reb, nBuckets = 8)
    def live(table: String, pc: String) =
      LsmTombstones.filterLive(spark, resolved(dir),
          graft.sources.Sources.readMergePartitioned(spark, s"${resolved(dir)}/$table", pc),
          "doc_id")
    assert(live("postings", "_b").select("term", "doc_id", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq == postings(reb))
    assert(live("doclen", "_db").select("doc_id", "dl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq == doclen(reb))
    assert(stats(dir) == stats(reb))
    val q = Seq("spark", "merge", "vector")
    assert(LexicalIndex.searchBm25Index(spark, dir, q, k = 10).collect().map(_.toSeq).toSeq
      == TextAnalysis.bm25(finalDocs, "doc_id", "text", q, k = 10).collect().map(_.toSeq).toSeq)
    // logically idempotent under re-application (stats included)
    LexicalIndex.applyBm25IndexChanges(spark, dir, changes, mode = "append"): Unit
    assert(stats(dir) == stats(reb))
    assert(live("doclen", "_db").select("doc_id", "dl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq == doclen(reb))
  }

  test("compaction folds the append log back to the bit-exact rebuild state") {
    val dir = freshDir()
    LexicalIndex.writeBm25Index(baseDocs, dir, nBuckets = 8)
    LexicalIndex.applyBm25IndexChanges(spark, dir, changes, mode = "append"): Unit
    LexicalIndex.compactBm25Index(spark, dir)
    val reb = freshDir()
    LexicalIndex.writeBm25Index(finalDocs, reb, nBuckets = 8)
    assert(postings(dir) == postings(reb)) // raw reads: no tombstones left
    assert(doclen(dir) == doclen(reb))
    assert(stats(dir) == stats(reb))
    assert(LsmTombstones.isEmpty(spark, resolved(dir)))
    // rewrite-mode maintenance works again on the compacted index
    LexicalIndex.applyBm25IndexChanges(spark, dir,
      Seq((8L, "", "orphaned")).toDF("doc_id", "text", "_change")): Unit
    assert(!doclen(dir).exists(_._1 == 8L))
  }

  test("rewrite-mode apply refuses an index with live tombstones") {
    val dir = freshDir()
    LexicalIndex.writeBm25Index(baseDocs, dir, nBuckets = 8)
    LexicalIndex.applyBm25IndexChanges(spark, dir, changes, mode = "append"): Unit
    val e = intercept[IllegalArgumentException] {
      LexicalIndex.applyBm25IndexChanges(spark, dir, changes)
    }
    assert(e.getMessage.contains("compactBm25Index"))
  }

  test("unknown change kinds are refused loudly") {
    val dir = freshDir()
    LexicalIndex.writeBm25Index(baseDocs, dir, nBuckets = 8)
    val bad = Seq((9L, "x", "replaced")).toDF("doc_id", "text", "_change")
    val e = intercept[IllegalArgumentException] {
      LexicalIndex.applyBm25IndexChanges(spark, dir, bad)
    }
    assert(e.getMessage.contains("unknown"))
  }

  test("partitioned family: routed search = one index over the filtered corpus, bit for bit") {
    // BM25 statistics SUM over partitions (df, n_docs, tot; tf/dl are
    // per-doc), so multi-partition routed search must equal a single
    // index built over the filtered corpus — including after a ROUTED
    // change feed, and with different nBuckets per path.
    def withPart(df: DataFrame) =
      df.withColumn("part", (col("doc_id") % 2).cast("long"))
    val root = freshDir()
    LexicalIndex.writePartitionedBm25Index(withPart(baseDocs), root, "part",
      nBuckets = 4): Unit
    LexicalIndex.applyPartitionedBm25IndexChanges(spark, root, "part",
      withPart(changes)): Unit
    val terms = Seq("spark", "merge", "vector")
    def run(values: Seq[Any]) =
      LexicalIndex.searchPartitionedBm25Index(spark, root, "part", values,
        terms, k = 10).collect().map(_.toSeq).toSeq
    // single-slice search ≡ an index over that slice's final corpus
    for (p <- Seq(0L, 1L)) {
      val mono = freshDir()
      LexicalIndex.writeBm25Index(finalDocs.filter(col("doc_id") % 2 === p),
        mono, nBuckets = 8)
      assert(run(Seq(p)) ==
        LexicalIndex.searchBm25Index(spark, mono, terms, k = 10)
          .collect().map(_.toSeq).toSeq, s"slice $p diverged")
    }
    // both slices ≡ the whole final corpus (stats/df summation exact)
    val whole = freshDir()
    LexicalIndex.writeBm25Index(finalDocs, whole, nBuckets = 8)
    assert(run(Seq(0L, 1L)) ==
      LexicalIndex.searchBm25Index(spark, whole, terms, k = 10)
        .collect().map(_.toSeq).toSeq)
    assert(run(Seq(0L, 1L)).nonEmpty)
    // unknown filter values refuse loudly
    intercept[IllegalArgumentException] {
      LexicalIndex.searchPartitionedBm25Index(spark, root, "part", Seq(9L),
        terms, k = 10)
    }
  }
}
