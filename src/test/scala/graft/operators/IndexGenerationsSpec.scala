package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Generation-swapped full rebuilds of the maintained indexes:
  * [[SimilaritySearch.retrainIvfPqIndex]] (the drift tripwire's remedy
  * as code) and [[LexicalIndex.rebuildBm25Index]] (re-bucketing /
  * retention purge). The swap must be atomic and complete — new
  * quantizers with new codes, a fresh tombstone log — the old
  * generation untouched until vacuum, and incremental maintenance must
  * continue transparently against whichever generation the pointer
  * names. */
class IndexGenerationsSpec extends SparkSpec {
  import spark.implicits._

  // the IncrementalIvfPqSpec corpus: two lobes, stable coarse lists
  private def vec(id: Long): Seq[Float] = {
    val lobe = if (id % 2 == 0) 0f else 100f
    Seq.tabulate(8)(i => lobe + ((id * 7 + i * 3) % 13).toFloat)
  }
  private def corpus(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")

  private val baseIds = (0L until 24L).filterNot(id => id >= 8 && id % 7 == 5)
  private val newIds  = (8L until 24L).filter(_ % 7 == 5)
  private val delIds  = (8L until 24L).filter(id => id % 7 != 5 && id % 11 == 2)

  private def changes: DataFrame =
    corpus(newIds).withColumn("_change", lit("new"))
      .unionByName(corpus(delIds).withColumn("_change", lit("orphaned")))

  private def finalCorpus: DataFrame =
    corpus((0L until 24L).filterNot(delIds.contains))

  private def codesOf(dir: String): Seq[(Long, Seq[Int], Int)] =
    graft.sources.Sources.readMergePartitioned(spark,
        s"${IndexGenerations.resolve(spark, dir)}/codes", "_list")
      .select(col("_id").cast("long"), col("codes"), col("_list").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getInt(2)))
      .sortBy(x => (x._1, x._3)).toSeq

  private def searchOf(dir: String): Seq[Seq[Any]] =
    SimilaritySearch.searchIvfPqIndex(spark, dir,
        corpus(Seq(0L, 1L)), k = 4, nProbe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  test("retrain swaps to new quantizers atomically; equals a fresh build, bit for bit") {
    val dir = Files.createTempDirectory("graft_gen_retrain").toString
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir,
      0L until 4L, 0L until 4L, m = 4)
    // append-mode feed: retrain must start from a live-tombstone state
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes,
      mode = "append"): Unit

    val newCoarse = Seq(8L, 9L, 10L, 11L)
    val newPq = Seq(14L, 15L, 16L, 17L)
    val gen = SimilaritySearch.retrainIvfPqIndex(spark, dir, finalCorpus,
      newCoarse, newPq, m = 4)
    assert(IndexGenerations.resolve(spark, dir) == gen)

    // bit-for-bit the fresh build over the same corpus and quantizer ids
    val fresh = Files.createTempDirectory("graft_gen_fresh").toString
    SimilaritySearch.writeIvfPqIndex(finalCorpus, fresh, newCoarse, newPq, m = 4)
    assert(codesOf(dir) == codesOf(fresh))
    assert(searchOf(dir) == searchOf(fresh))

    // the new generation starts with a clean tombstone log even though
    // the outgoing one still carries live kills
    assert(LsmTombstones.isEmpty(spark, gen))
    assert(!LsmTombstones.isEmpty(spark, dir.toString))
  }

  test("maintenance continues against the new generation; the old one is untouched until vacuum") {
    val dir = Files.createTempDirectory("graft_gen_cont").toString
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir,
      0L until 4L, 0L until 4L, m = 4)
    val oldCodes = codesOf(dir)
    val gen = SimilaritySearch.retrainIvfPqIndex(spark, dir, finalCorpus,
      Seq(8L, 9L, 10L, 11L), Seq(14L, 15L, 16L, 17L), m = 4)

    // a post-retrain delta lands in the NEW generation's tables/log
    val kill = corpus(Seq(3L)).withColumn("_change", lit("orphaned"))
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, kill,
      mode = "append"): Unit
    // append mode: the kill is a tombstone in the NEW generation's
    // log (the codes rows stay until compaction) — the live view and
    // every search must not see id 3
    assert(!LsmTombstones.isEmpty(spark, gen))
    val live = LsmTombstones.filterLive(spark, gen,
        graft.sources.Sources.readMergePartitioned(spark, s"$gen/codes", "_list"),
        "_id")
      .select(col("_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(!live.contains(3L))
    assert(!searchOf(dir).exists(_(2) == 3L))

    // the superseded generation (the original plain layout) is intact:
    // its codes still read identically through a direct (non-pointer)
    // path — in-flight readers of the old generation are safe
    val direct = graft.sources.Sources
      .readMergePartitioned(spark, s"$dir/codes", "_list")
      .select(col("_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(direct == baseIds.toSet)

    // health and the compaction trigger resolve the live generation
    val h = SimilaritySearch.ivfPqIndexHealth(spark, dir)
    assert(h.tombstoneRows == 1L)

    // a second retrain supersedes the first; vacuum deletes the dead
    // gen AND (r16) the superseded plain-layout table dirs at the root
    // (codes/centroids/codebooks/drift — pre-r16 they leaked forever)
    val gen2 = SimilaritySearch.retrainIvfPqIndex(spark, dir, finalCorpus,
      Seq(8L, 9L, 10L, 11L), Seq(14L, 15L, 16L, 17L), m = 4)
    assert(IndexGenerations.vacuum(spark, dir) == 5)
    assert(IndexGenerations.resolve(spark, dir) == gen2)
    assert(searchOf(dir).nonEmpty)
    assert(!new java.io.File(dir, "codes").exists(),
      "superseded plain-layout codes dir must be reclaimed")
  }

  test("vacuum never deletes an in-flight build: gen dirs numbered at or above the live one survive any age (ADVICE r16)") {
    val dir = Files.createTempDirectory("graft_gen_inflight").toString
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir,
      0L until 4L, 0L until 4L, m = 4)
    val gen1 = SimilaritySearch.retrainIvfPqIndex(spark, dir, corpus(baseIds),
      0L until 4L, 0L until 4L, m = 4)
    // an offline rebuild IN FLIGHT: next() allocated its dir (numbered
    // above the live gen) and the builder is writing into it — the
    // pointer's swap meanwhile is hours old, which is exactly when the
    // maintenance tick's auto-vacuum used to delete it mid-write
    val inflight = IndexGenerations.next(spark, dir)
    assert(new java.io.File(inflight).mkdirs())
    val aged = System.currentTimeMillis() - 2L * 3600 * 1000
    IndexGenerationsSpec.ageLiveClaim(spark, dir, aged)
    assert(new java.io.File(inflight).setLastModified(aged)) // even aged: number protects it
    // superseded state (plain layout) is aged and reclaimed; the
    // in-flight build and the live gen survive
    Seq("codes", "centroids", "codebooks", "drift", "tombstones")
      .map(new java.io.File(dir, _)).filter(_.exists())
      .foreach(f => assert(f.setLastModified(aged)))
    IndexGenerations.vacuum(spark, dir,
      graceMs = 3600L * 1000): Unit
    assert(new java.io.File(inflight).exists(),
      "in-flight rebuild dir deleted by vacuum")
    assert(new java.io.File(gen1).exists(), "live generation deleted")
    assert(!new java.io.File(dir, "codes").exists(),
      "aged superseded plain layout kept")
    // a fresh-mtime superseded gen (someone still writing) also survives
    // until it ages, even below the live number
    assert(new java.io.File(inflight).delete()) // build abandoned
    SimilaritySearch.retrainIvfPqIndex(spark, dir, corpus(baseIds),
      0L until 4L, 0L until 4L, m = 4): Unit
    IndexGenerationsSpec.ageLiveClaim(spark, dir, aged)
    // gen1 is now superseded but its own mtime is fresh → spared
    assert(IndexGenerations.vacuum(spark, dir,
      graceMs = 3600L * 1000) == 0)
    assert(new java.io.File(gen1).exists(),
      "fresh-mtime superseded gen deleted inside its own grace")
  }

  test("retrain resets the drift baseline: a feed that tripped the old quantizers is quiet after") {
    val dir = Files.createTempDirectory("graft_gen_drift").toString
    SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir,
      0L until 4L, 0L until 4L, m = 4)
    // a drifted feed: a coherent THIRD lobe far outside both training
    // lobes — trips the old quantizers, in-distribution for retrained
    // medoids drawn from it
    def drifted(ids: Seq[Long]): DataFrame =
      ids.map(id => (id, Seq.tabulate(8)(i => 5000f + ((id * 7 + i * 3) % 13))))
        .toDF("vec_id", "embedding").withColumn("_change", lit("new"))
    val r1 = SimilaritySearch.applyIvfPqIndexChanges(spark, dir,
      drifted(Seq(100L, 101L)), mode = "append")
    assert(r1.driftRatio.exists(_ > SimilaritySearch.DriftWarnRatio))

    // retrain over the corpus the index now serves (incl. the drifted
    // rows) with medoids FROM the drifted region too
    val cur = finalCorpus.unionByName(
      drifted(Seq(100L, 101L)).drop("_change"))
    SimilaritySearch.retrainIvfPqIndex(spark, dir, cur,
      Seq(0L, 1L, 8L, 100L), Seq(9L, 10L, 11L, 101L), m = 4): Unit
    val r2 = SimilaritySearch.applyIvfPqIndexChanges(spark, dir,
      drifted(Seq(102L, 103L)), mode = "append")
    assert(r2.driftRatio.exists(_ <= SimilaritySearch.DriftWarnRatio))
  }

  test("bm25 rebuild: retention purge + re-bucketing swap atomically; maintenance continues") {
    val docs = Seq(
      (1L, "spark merge spark vector"),
      (2L, "merge of the merge tables"),
      (3L, "vector search over spark"),
      (4L, "purge me from the index"),
      (5L, "spark spark spark"),
      (6L, "the vector merge")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_gen_bm25").toString
    LexicalIndex.writeBm25Index(docs, dir, nBuckets = 8)
    // live tombstones before the rebuild
    LexicalIndex.applyBm25IndexChanges(spark, dir,
      Seq((7L, "a new spark doc", "new")).toDF("doc_id", "text", "_change"),
      mode = "append"): Unit

    // rebuild = retention purge (doc 4 must vanish) + 8 → 4 buckets
    val purged = docs.unionByName(Seq((7L, "a new spark doc")).toDF("doc_id", "text"))
      .filter(col("doc_id") =!= 4L)
    val gen = LexicalIndex.rebuildBm25Index(spark, dir, purged, nBuckets = 4)
    assert(IndexGenerations.resolve(spark, dir) == gen)
    assert(LsmTombstones.isEmpty(spark, gen))

    def search(d: String): Seq[Seq[Any]] =
      LexicalIndex.searchBm25Index(spark, d, Seq("spark", "merge"), k = 10)
        .collect().map(_.toSeq).toSeq
    val oracle = graft.operators.TextAnalysis.bm25(purged, "doc_id", "text",
      Seq("spark", "merge"), k = 10).collect().map(_.toSeq).toSeq
    assert(search(dir) == oracle)
    assert(!search(dir).exists(_.head == 4L))

    // post-rebuild delta lands in the new generation
    LexicalIndex.applyBm25IndexChanges(spark, dir,
      Seq((2L, "", "orphaned")).toDF("doc_id", "text", "_change"),
      mode = "append"): Unit
    val after = graft.operators.TextAnalysis.bm25(
      purged.filter(col("doc_id") =!= 2L), "doc_id", "text",
      Seq("spark", "merge"), k = 10).collect().map(_.toSeq).toSeq
    assert(search(dir) == after)

    // one live gen; the first vacuum reclaims the 6 superseded
    // plain-layout dirs (postings/forward/doclen/stats/meta/tombstones)
    assert(IndexGenerations.vacuum(spark, dir) == 6)
    val gen2 = LexicalIndex.rebuildBm25Index(spark, dir,
      purged.filter(col("doc_id") =!= 2L), nBuckets = 4)
    assert(IndexGenerations.vacuum(spark, dir) == 1)
    assert(IndexGenerations.resolve(spark, dir) == gen2)
    assert(search(dir) == after)
  }

  test("generation plumbing fails loudly: bad swaps, dangling pointers") {
    val dir = Files.createTempDirectory("graft_gen_guard").toString
    // swapping to a non-child or missing generation is refused
    intercept[IllegalArgumentException] {
      IndexGenerations.swap(spark, dir, "/somewhere/else/gen-1-x")
    }
    intercept[IllegalArgumentException] {
      IndexGenerations.swap(spark, dir, s"$dir/gen-1-missing")
    }
    // a pointer naming a vacuumed generation resolves loudly, not to garbage
    val gen = IndexGenerations.next(spark, dir)
    new java.io.File(gen).mkdirs()
    IndexGenerations.swap(spark, dir, gen)
    assert(IndexGenerations.resolve(spark, dir) == gen)
    new java.io.File(gen).delete()
    intercept[IllegalArgumentException] {
      IndexGenerations.resolve(spark, dir)
    }
    // vacuum without a pointer is a no-op
    val plain = Files.createTempDirectory("graft_gen_plain").toString
    assert(IndexGenerations.vacuum(spark, plain) == 0)

    // forward-only swap (r17): a slow rival rebuild whose swap lands
    // after a newer generation's refuses loudly instead of REGRESSING
    // readers to the older rebuild
    val dir2 = Files.createTempDirectory("graft_gen_fwd").toString
    val slow = IndexGenerations.next(spark, dir2) // gen-1, built slowly
    new java.io.File(slow).mkdirs()
    val fast = IndexGenerations.next(spark, dir2) // gen-2, finishes first
    new java.io.File(fast).mkdirs()
    IndexGenerations.swap(spark, dir2, fast)
    intercept[java.util.ConcurrentModificationException] {
      IndexGenerations.swap(spark, dir2, slow)
    }
    assert(IndexGenerations.resolve(spark, dir2) == fast)
    // re-swapping the live generation itself stays legal (idempotent)
    IndexGenerations.swap(spark, dir2, fast)
    assert(IndexGenerations.resolve(spark, dir2) == fast)
  }

  test("a stale swap claim landing late can never shadow a newer generation (ADVICE r17: dense-claim swap)") {
    val dir = Files.createTempDirectory("graft_gen_cas").toString
    val slow = IndexGenerations.next(spark, dir) // gen-1, built slowly
    assert(new java.io.File(slow).mkdirs())
    val fast = IndexGenerations.next(spark, dir) // gen-2, finishes first
    assert(new java.io.File(fast).mkdirs())
    IndexGenerations.swap(spark, dir, fast)
    // the r17 hole: the slow builder passed its forward check BEFORE
    // fast's swap landed, then renamed after it — with the rename
    // pointer that REGRESSED readers to gen-1. Simulate the same
    // interleaving against the claim set: the stale claim lands raw
    // (no pre-check, as if the builder paused mid-swap), even with a
    // HIGHER slot number than the winner's.
    val slowName = new java.io.File(slow).getName
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, f"genswap-${99L}%012d"),
      slowName.getBytes("UTF-8")): Unit
    // resolution is by generation number, not slot/rename order: the
    // stale claim is inert
    assert(IndexGenerations.resolve(spark, dir) == fast,
      "stale swap claim shadowed the newer generation")
    // and a stale swap through the API refuses loudly as before
    intercept[java.util.ConcurrentModificationException] {
      IndexGenerations.swap(spark, dir, slow)
    }
    // vacuum sweeps the inert claim (and the superseded gen dir), the
    // live generation's claim survives
    IndexGenerations.vacuum(spark, dir): Unit
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.contains(f"genswap-${99L}%012d"), s"inert claim kept: $names")
    assert(IndexGenerations.resolve(spark, dir) == fast)
  }

  test("swap refuses a gen-* root; resolve refuses a claimless _gen") {
    val dir = Files.createTempDirectory("graft_gen_root").toString
    val gen1 = IndexGenerations.next(spark, dir)
    new java.io.File(gen1).mkdirs()
    IndexGenerations.swap(spark, dir, gen1)
    // rebuilding "against the index" with the GENERATION dir a resolve
    // returned is refused by next() and swap() alike
    intercept[IllegalArgumentException] {
      IndexGenerations.next(spark, gen1)
    }
    val nested = new java.io.File(gen1, "gen-1-nested")
    assert(nested.mkdirs())
    intercept[IllegalArgumentException] {
      IndexGenerations.swap(spark, gen1, nested.toString)
    }
    assert(IndexGenerations.resolve(spark, dir) == gen1)
    // a root holding the pre-claim _gen pointer and no swap claim is
    // refused loudly, not served as a plain layout
    val old = Files.createTempDirectory("graft_gen_preclaim").toString
    assert(new java.io.File(old, "gen-1-x").mkdirs())
    Files.write(java.nio.file.Paths.get(old, "_gen"), "gen-1-x".getBytes("UTF-8")): Unit
    val e = intercept[IllegalStateException] {
      IndexGenerations.resolve(spark, old)
    }
    assert(e.getMessage.contains("_gen"), e.getMessage)
  }
}

object IndexGenerationsSpec {
  /** Set the mtime of the swap claim(s) naming `dir`'s live generation
    * — the swap time [[IndexGenerations.vacuum]] ages against. */
  def ageLiveClaim(spark: org.apache.spark.sql.SparkSession, dir: String,
      at: Long): Unit = {
    val live = new java.io.File(IndexGenerations.resolve(spark, dir)).getName
    val claims = new java.io.File(dir).listFiles().toSeq.filter(f =>
      f.getName.startsWith("genswap-") &&
        new String(Files.readAllBytes(f.toPath), "UTF-8").trim == live)
    assert(claims.nonEmpty, s"no swap claim names $live under $dir")
    claims.foreach(f => assert(f.setLastModified(at)))
  }
}
