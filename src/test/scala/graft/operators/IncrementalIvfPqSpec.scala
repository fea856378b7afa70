package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental IVF-PQ index maintenance: with frozen quantizers the
  * final code table is a pure per-row function of the final corpus,
  * so applying a change feed must produce bit-for-bit the table a
  * fresh rebuild over the post-change corpus would. These specs pin
  * that, plus idempotency, stale-code removal across a coarse-list
  * move, and the untouched-partition byte-identity the manifest
  * discipline guarantees. */
class IncrementalIvfPqSpec extends SparkSpec {
  import spark.implicits._

  // 24 deterministic dim-8 vectors in two easily-separated lobes so
  // coarse assignment is stable; ids 0..7 double as quantizer medoids
  private def vec(id: Long): Seq[Float] = {
    val lobe = if (id % 2 == 0) 0f else 100f
    Seq.tabulate(8)(i => lobe + ((id * 7 + i * 3) % 13).toFloat)
  }
  private def corpus(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")

  private val baseIds  = (0L until 24L).filterNot(id => id >= 8 && id % 7 == 5)
  private val newIds   = (8L until 24L).filter(_ % 7 == 5)
  private val delIds   = (8L until 24L).filter(id => id % 7 != 5 && id % 11 == 2)
  private val updIds   = (8L until 24L).filter(id => id % 7 != 5 && id % 11 != 2 && id % 13 == 4)
  private val coarse   = 0L until 4L
  private val pqSeeds  = 0L until 4L

  private def changes: DataFrame = {
    val nw = corpus(newIds).withColumn("_change", lit("new"))
    val dl = corpus(delIds).withColumn("_change", lit("orphaned"))
    val up = corpus(updIds)
      .withColumn("embedding", reverse(col("embedding")))
      .withColumn("_change", lit("updated"))
    nw.unionByName(dl).unionByName(up)
  }

  private def finalCorpus: DataFrame = {
    val survivors = (0L until 24L).filterNot(delIds.contains)
    survivors.map { id =>
      val v = vec(id)
      (id, if (updIds.contains(id)) v.reverse else v)
    }.toDF("vec_id", "embedding")
  }

  /** The committed version dir of index root `dir`. */
  private def resolved(dir: String): String = graft.sources.Sources.resolveSnapshot(spark, dir)

  private def codesOf(dir: String): Seq[(Long, Seq[Int], Int)] =
    graft.sources.Sources.readMergePartitioned(spark, s"${resolved(dir)}/codes", "_list")
      .select(col("_id").cast("long"), col("codes"), col("_list").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getInt(2)))
      .sortBy(x => (x._1, x._3)).toSeq

  private def freshDir(): String = {
    val p = Files.createTempDirectory("graft_incidx_spec")
    p.toString
  }

  private def builtAndApplied(): String = {
    val dir = freshDir()
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir, coarse, pqSeeds, m = 4)
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes): Unit
    dir
  }

  test("incremental apply equals a rebuild over the final corpus, bit for bit") {
    val inc = builtAndApplied()
    val reb = freshDir()
    SimilaritySearch.writeIvfPqIndex(finalCorpus, reb, coarse, pqSeeds, m = 4)
    assert(codesOf(inc) == codesOf(reb))
    // and every changed id is accounted for: deletes gone, news present
    val ids = codesOf(inc).map(_._1).toSet
    delIds.foreach(id => assert(!ids.contains(id)))
    (newIds ++ updIds).foreach(id => assert(ids.contains(id)))
  }

  test("re-applying the same feed is idempotent") {
    val dir = builtAndApplied()
    val once = codesOf(dir)
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes): Unit
    assert(codesOf(dir) == once)
  }

  test("an updated vector that moves coarse list leaves no stale code behind") {
    val dir = builtAndApplied()
    // the update reverses the vector; with per-id lobes the reversed
    // vector can re-assign. Regardless of whether it moved, the id
    // must appear EXACTLY once in the final index.
    val counts = codesOf(dir).groupBy(_._1).view.mapValues(_.size)
    counts.foreach { case (id, n) => assert(n == 1, s"id $id appears $n times") }
  }

  test("untouched list partitions keep their original files byte-identical") {
    val dir = freshDir()
    val v = SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir, coarse, pqSeeds, m = 4)
    // snapshot the initial build's partition files, inside the one batch
    // dir its first append committed
    val root = java.nio.file.Files.list(java.nio.file.Paths.get(v, "codes")).iterator().asScala
      .toSeq.filter(_.getFileName.toString.startsWith("b-")) match { case Seq(b) => b }
    def files(): Map[String, Seq[(String, Long)]] =
      java.nio.file.Files.list(root).iterator().asScala.toSeq
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("_list="))
        .map { p =>
          p.getFileName.toString ->
            java.nio.file.Files.list(p).iterator().asScala.toSeq
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(f => (f.getFileName.toString, java.nio.file.Files.size(f)))
              .sortBy(_._1)
        }.toMap
    val before = files()
    val delta = SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes)
    assert(delta.removed == (delIds.size + updIds.size))
    assert(delta.added == (newIds.size + updIds.size))
    // every original partition dir still holds its exact files — the
    // rewrite happened in NEW b-* batch dirs under the manifest
    val after = files()
    assert(after == before)
  }

  test("search over the maintained index equals search over the rebuild") {
    val inc = builtAndApplied()
    val reb = freshDir()
    SimilaritySearch.writeIvfPqIndex(finalCorpus, reb, coarse, pqSeeds, m = 4)
    val queries = corpus(Seq(0L, 1L, 2L))
    def results(dir: String) =
      SimilaritySearch.searchIvfPqIndex(spark, dir, queries, k = 3, nProbe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(results(inc) == results(reb))
  }

  private def liveCodesOf(dir: String): Seq[(Long, Seq[Int], Int)] =
    LsmTombstones.filterLive(spark, resolved(dir),
        graft.sources.Sources.readMergePartitioned(spark, s"${resolved(dir)}/codes", "_list"),
        "_id")
      .select(col("_id").cast("long"), col("codes"), col("_list").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getInt(2)))
      .sortBy(x => (x._1, x._3)).toSeq

  test("append-mode apply: tombstone-aware content and search equal the rebuild") {
    val dir = freshDir()
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir, coarse, pqSeeds, m = 4)
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes, mode = "append"): Unit
    val reb = freshDir()
    SimilaritySearch.writeIvfPqIndex(finalCorpus, reb, coarse, pqSeeds, m = 4)
    assert(liveCodesOf(dir) == codesOf(reb))
    val queries = corpus(Seq(0L, 1L, 2L))
    def results(d: String) =
      SimilaritySearch.searchIvfPqIndex(spark, d, queries, k = 3, nProbe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(results(dir) == results(reb))
    // re-applying the same feed stays logically idempotent
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes, mode = "append"): Unit
    assert(liveCodesOf(dir) == codesOf(reb))
  }

  test("compaction folds the append log back to the bit-exact rebuild state") {
    val dir = freshDir()
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir, coarse, pqSeeds, m = 4)
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes, mode = "append"): Unit
    SimilaritySearch.compactIvfPqIndex(spark, dir)
    val reb = freshDir()
    SimilaritySearch.writeIvfPqIndex(finalCorpus, reb, coarse, pqSeeds, m = 4)
    assert(codesOf(dir) == codesOf(reb)) // raw read: no tombstone filter needed
    // every generation stamp is folded to ONE value = the max consumed
    // tombstone seq (so a reader between the fold publish and the
    // tombstone clear keeps every compacted row live: _seq >= _ts_max),
    // and the floor guarantees future generations stay strictly above
    val seqs = graft.sources.Sources
      .readMergePartitioned(spark, s"${resolved(dir)}/codes", "_list")
      .select("_seq").distinct().collect().map(_.getLong(0)).toSeq
    assert(seqs.size == 1)
    assert(seqs.head == LsmTombstones.floor(spark, resolved(dir)))
    assert(LsmTombstones.nextSeq(spark, resolved(dir)) > seqs.head)
    assert(LsmTombstones.isEmpty(spark, resolved(dir)))
    // and the index is clean for rewrite-mode maintenance again
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir,
      corpus(Seq(23L)).withColumn("_change", lit("orphaned"))): Unit
    assert(!codesOf(dir).exists(_._1 == 23L))
  }

  test("rewrite-mode apply refuses an index with live tombstones") {
    val dir = freshDir()
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir, coarse, pqSeeds, m = 4)
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes, mode = "append"): Unit
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes)
    }
    assert(e.getMessage.contains("compactIvfPqIndex"))
  }

  test("unknown change kinds are refused loudly") {
    val dir = freshDir()
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir, coarse, pqSeeds, m = 4)
    val bad = corpus(Seq(9L)).withColumn("_change", lit("upserted"))
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.applyIvfPqIndexChanges(spark, dir, bad)
    }
    assert(e.getMessage.contains("unknown"))
  }

  test("quantizer drift watch: in-distribution feed stays quiet, drifted feed trips") {
    val dir = freshDir()
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir, coarse, pqSeeds, m = 4)
    // in-distribution: the same lobe family the quantizers trained on
    val m1 = SimilaritySearch.applyIvfPqIndexChanges(spark, dir,
      corpus(newIds).withColumn("_change", lit("new")), mode = "append")
    assert(m1.driftRatio.isDefined)
    assert(m1.driftRatio.get < SimilaritySearch.DriftWarnRatio,
      s"in-distribution ratio ${m1.driftRatio.get}")
    // drifted: vectors far off BOTH training lobes — the frozen
    // quantizers still encode them exactly, but recall against them
    // would decay silently; the ratio is the tripwire
    val drifted = Seq((100L, Seq.fill(8)(5000f)), (101L, Seq.fill(8)(6000f)))
      .toDF("vec_id", "embedding").withColumn("_change", lit("new"))
    val m2 = SimilaritySearch.applyIvfPqIndexChanges(spark, dir, drifted,
      mode = "append")
    assert(m2.driftRatio.exists(_ > SimilaritySearch.DriftWarnRatio),
      s"drifted ratio ${m2.driftRatio}")
    // delete-only feeds carry no drift signal
    val m3 = SimilaritySearch.applyIvfPqIndexChanges(spark, dir,
      corpus(Seq(0L)).withColumn("_change", lit("orphaned")), mode = "append")
    assert(m3.driftRatio.isEmpty)
  }

  test("metadata-filtered search ranks among allowed ids only, duplicate-proof") {
    val dir = builtAndApplied()
    val queries = corpus(Seq(0L, 1L))
    val allowed = corpus((0L until 24L).filter(_ % 3 == 1)).select("vec_id")
    def run(ids: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.searchIvfPqIndex(spark, dir, queries, k = 3, nProbe = 2,
          allowedIds = Some(ids))
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val res = run(allowed)
    assert(res.nonEmpty)
    // every neighbor satisfies the predicate; ranks are 1..n per query
    assert(res.forall(r => r(2).asInstanceOf[Long] % 3 == 1))
    res.groupBy(_.head).foreach { case (_, rs) =>
      assert(rs.map(_(1)) == (1 to rs.length).toSeq) }
    // a duplicated allowed set must not duplicate candidates
    assert(run(allowed.unionAll(allowed)) == res)
    // the filtered ranking is the unfiltered candidate ranking with
    // disallowed ids removed (pre-filter semantics, not post-trim)
    val unfiltered = SimilaritySearch.searchIvfPqIndex(spark, dir, queries,
        k = 1000, nProbe = 2)
      .collect().map(_.toSeq).toSeq
    val expect = unfiltered.filter(r => r(2).asInstanceOf[Long] % 3 == 1)
      .groupBy(_.head).view.mapValues(_.sortBy(_(1).asInstanceOf[Int]).take(3)
        .map(r => (r.head, r(2), r(3)))).toMap
    val got = res.groupBy(_.head).view
      .mapValues(_.map(r => (r.head, r(2), r(3)))).toMap
    assert(got == expect)
  }

  test("refined search = exact-L2 rerank of the ADC shortlist") {
    val dir = builtAndApplied()
    val queries = corpus(Seq(0L, 1L))
    val short = SimilaritySearch.searchIvfPqIndex(spark, dir, queries,
        k = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val vecs = finalCorpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val expect = short.groupBy(_._1).toSeq.flatMap { case (qid, ns) =>
      ns.map { case (_, nid) => (qid, nid, l2(vecs(qid), vecs(nid))) }
        .sortBy(x => (x._3, x._2)).take(3).zipWithIndex
        .map { case ((q, n, dist), i) => (q, i + 1, n, dist) }
    }.sortBy(x => (x._1, x._2))
    val got = SimilaritySearch.searchIvfPqIndexRefined(spark, dir,
        corpus = finalCorpus, queries = queries, k = 3, kCoarse = 8, nProbe = 2)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expect)
    intercept[IllegalArgumentException] {
      SimilaritySearch.searchIvfPqIndexRefined(spark, dir, finalCorpus,
        queries, k = 9, kCoarse = 8)
    }
  }

  test("partitioned index routing = monolithic filtered search, bit for bit") {
    // percent-scale filtered ANN: one index per filter-column value,
    // shared quantizers. Routing a search to the matching partitions
    // must equal the monolithic index searched with the partition
    // membership as allowedIds — including after a ROUTED change feed.
    val part = (id: Long) => id % 4
    def withPart(df: DataFrame) =
      df.withColumn("part", (col("vec_id") % 4).cast("long"))
    val root = freshDir()
    SimilaritySearch.writePartitionedIvfPqIndex(withPart(corpus(baseIds)),
      root, "part", coarse, pqSeeds, m = 4): Unit
    SimilaritySearch.applyPartitionedIvfPqIndexChanges(spark, root, "part",
      withPart(changes)): Unit
    val mono = builtAndApplied()
    val queries = corpus(Seq(0L, 1L))
    val values = Seq(1L, 3L) // 50%-selective: NOT a broadcastable id set at scale
    val routed = SimilaritySearch.searchPartitionedIvfPqIndex(spark, root,
        "part", values, queries, k = 3, nProbe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val allowed = finalCorpus.filter(col("vec_id") % 4 === 1 ||
      col("vec_id") % 4 === 3).select("vec_id")
    val filtered = SimilaritySearch.searchIvfPqIndex(spark, mono, queries,
        k = 3, nProbe = 2, allowedIds = Some(allowed))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(routed == filtered && routed.nonEmpty)
    assert(routed.forall(r => values.contains(part(r(2).asInstanceOf[Long]))))

    // unknown filter values and path-unsafe values refuse loudly
    intercept[IllegalArgumentException] {
      SimilaritySearch.searchPartitionedIvfPqIndex(spark, root, "part",
        Seq(99L), queries, k = 3)
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.searchPartitionedIvfPqIndex(spark, root, "part",
        Seq("a/b"), queries, k = 3)
    }
  }

  private implicit class IterWrap[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
