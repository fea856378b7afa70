package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{Claims, Sources}

/** Every build of a maintained index is a snapshot version of the index
  * root: the initial build is version 1, and a quantizer retrain (the
  * drift tripwire's remedy as code, [[SimilaritySearch.writeIvfPqIndex]])
  * or a re-bucketing / retention purge ([[LexicalIndex.writeBm25Index]])
  * is the next version, each committed by one claim
  * ([[IndexMaintenance.commitBuild]]). The commit must be atomic and
  * complete — new quantizers with new codes, a fresh tombstone log —
  * the old generation untouched while it is inside the retention
  * window, and incremental maintenance must continue transparently
  * against whichever generation the highest claim names. The crash and
  * race points follow OccSnapshotSpec's. */
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
        s"${Sources.resolveSnapshot(spark, dir)}/codes", "_list")
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
    val v1 = SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir,
      0L until 4L, 0L until 4L, m = 4)
    // append-mode feed: retrain must start from a live-tombstone state
    SimilaritySearch.applyIvfPqIndexChanges(spark, dir, changes,
      mode = "append"): Unit

    val newCoarse = Seq(8L, 9L, 10L, 11L)
    val newPq = Seq(14L, 15L, 16L, 17L)
    val gen = SimilaritySearch.writeIvfPqIndex(finalCorpus, dir, newCoarse, newPq, m = 4)
    assert(Sources.resolveSnapshot(spark, dir) == gen)

    // bit-for-bit the fresh build over the same corpus and quantizer ids
    val fresh = Files.createTempDirectory("graft_gen_fresh").toString
    SimilaritySearch.writeIvfPqIndex(finalCorpus, fresh, newCoarse, newPq, m = 4)
    assert(codesOf(dir) == codesOf(fresh))
    assert(searchOf(dir) == searchOf(fresh))

    // the new generation starts with a clean tombstone log even though
    // the outgoing one still carries live kills
    assert(LsmTombstones.isEmpty(spark, gen))
    assert(!LsmTombstones.isEmpty(spark, v1))
  }

  test("maintenance continues against the new generation; the old one is untouched until vacuum") {
    val dir = Files.createTempDirectory("graft_gen_cont").toString
    val v1 = SimilaritySearch.writeIvfPqIndex(corpus(baseIds), dir,
      0L until 4L, 0L until 4L, m = 4)
    def retrain() = SimilaritySearch.writeIvfPqIndex(finalCorpus, dir,
      Seq(8L, 9L, 10L, 11L), Seq(14L, 15L, 16L, 17L), m = 4)
    val gen = retrain()

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

    // the superseded generation (the initial build, version 1) is
    // intact: its codes still read identically through its version dir
    // — in-flight readers of the old generation are safe
    val direct = graft.sources.Sources
      .readMergePartitioned(spark, s"$v1/codes", "_list")
      .select(col("_id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(direct == baseIds.toSet)

    // health resolves the live generation
    val h = IndexMaintenance.health(spark, Sources.resolveSnapshot(spark, dir),
      Seq("codes" -> "_list"))
    assert(h.tombstoneRows == 1L)

    // the superseded initial build stays while it is inside the
    // retention window: the second retrain (version 3) keeps it, the
    // third (version 4) removes it, and gen, still inside the window,
    // stays
    retrain(): Unit
    assert(Sources.readMergePartitioned(spark, s"$v1/codes", "_list")
      .select(col("_id").cast("long")).collect().map(_.getLong(0)).toSet == baseIds.toSet)
    val gen4 = retrain()
    assert(Sources.resolveSnapshot(spark, dir) == gen4)
    assert(searchOf(dir).nonEmpty)
    assert(!new java.io.File(v1).exists(), "the superseded initial build was kept")
    assert(new java.io.File(gen).exists(), "a generation inside the window was deleted")
  }

  test("the prune never deletes an in-flight build: a dir numbered above the top claim survives any age") {
    val dir = Files.createTempDirectory("graft_gen_inflight").toString
    def build(v: String): Unit = assert(new java.io.File(v, "codes").mkdirs())
    val gen1 = IndexMaintenance.commitBuild(spark, dir)(build)
    // a dir above the highest claim may be an in-flight rebuild (the
    // prune cannot tell which basis its writer read): never touched,
    // however old it looks
    val inflight = s"$dir/v-000000000003-inflight"
    build(inflight)
    assert(new java.io.File(inflight).setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
    val gen2 = IndexMaintenance.commitBuild(spark, dir)(build)
    assert(new java.io.File(inflight).exists(), "in-flight rebuild dir deleted by the prune")
    assert(Seq(gen1, gen2).forall(new java.io.File(_).exists()), "a generation inside the window deleted")
    // once a commit holds its number the dir can never commit: the
    // prune of that commit takes it
    val gen3 = IndexMaintenance.commitBuild(spark, dir)(build)
    assert(!new java.io.File(inflight).exists(), "a dir that can never commit was kept")
    assert(Sources.resolveSnapshot(spark, dir) == gen3)
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
    SimilaritySearch.writeIvfPqIndex(cur, dir,
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
    val v1 = LexicalIndex.writeBm25Index(docs, dir, nBuckets = 8)
    // live tombstones before the rebuild
    LexicalIndex.applyBm25IndexChanges(spark, dir,
      Seq((7L, "a new spark doc", "new")).toDF("doc_id", "text", "_change"),
      mode = "append"): Unit

    // rebuild = retention purge (doc 4 must vanish) + 8 → 4 buckets
    val purged = docs.unionByName(Seq((7L, "a new spark doc")).toDF("doc_id", "text"))
      .filter(col("doc_id") =!= 4L)
    val gen = LexicalIndex.writeBm25Index(purged, dir, nBuckets = 4)
    assert(Sources.resolveSnapshot(spark, dir) == gen)
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

    // the initial build (version 1) stays inside the retention window;
    // the rebuild that commits version 4 removes it
    def rootDirs() = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    val gen3 = LexicalIndex.writeBm25Index(purged.filter(col("doc_id") =!= 2L), dir, nBuckets = 4)
    assert(rootDirs() == Set(v1, gen, gen3).map(new java.io.File(_).getName))
    val gen4 = LexicalIndex.writeBm25Index(purged.filter(col("doc_id") =!= 2L), dir, nBuckets = 4)
    assert(rootDirs() == Set(gen, gen3, gen4).map(new java.io.File(_).getName))
    assert(Sources.resolveSnapshot(spark, dir) == gen4)
    assert(search(dir) == after)
  }

  // ──────────────── crash, race and retention points ────────────────

  private def names(dir: String): Set[String] = new java.io.File(dir).list().toSet

  private def docs(ids: Seq[Long], word: String): DataFrame =
    ids.map(id => (id, s"spark $word doc$id merge")).toDF("doc_id", "text")

  private def searchBm25(dir: String): Seq[Seq[Any]] =
    LexicalIndex.searchBm25Index(spark, dir, Seq("spark", "vector"), k = 10)
      .collect().map(_.toSeq).toSeq

  private def bm25Oracle(d: DataFrame): Seq[Seq[Any]] =
    TextAnalysis.bm25(d, "doc_id", "text", Seq("spark", "vector"), k = 10)
      .collect().map(_.toSeq).toSeq

  private val docsA = docs(1L to 6L, "alpha")
  private val docsB = docs(3L to 9L, "vector")
  private val docsC = docs(Seq(2L, 5L, 11L), "vector vector")

  test("generation plumbing fails loudly: bad swaps, dangling pointers") {
    val dir = Files.createTempDirectory("graft_gen_guard").toString
    // the initial build is version 1: the root resolves to it, and
    // maintenance there deletes nothing
    val v1 = LexicalIndex.writeBm25Index(docsA, dir, nBuckets = 2)
    assert(new java.io.File(v1).getName.startsWith("v-000000000001-"))
    assert(Sources.resolveSnapshot(spark, dir) == v1)
    val builtNames = names(dir)
    LexicalIndex.maintainBm25IfNeeded(spark, dir): Unit
    assert(names(dir) == builtNames)
    // building into the version dir a resolve returned is refused
    // before anything is written
    val gen = LexicalIndex.writeBm25Index(docsB, dir, nBuckets = 2)
    val inGen = names(gen)
    intercept[IllegalArgumentException] {
      LexicalIndex.writeBm25Index(docsB, Sources.resolveSnapshot(spark, dir), nBuckets = 2)
    }
    assert(names(gen) == inGen)
    // a claim naming a deleted generation fails the next search loudly,
    // naming the missing dir, instead of serving an empty index
    Files.walk(java.nio.file.Paths.get(gen)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    val e = intercept[Exception](searchBm25(dir))
    assert(e.getMessage.contains(new java.io.File(gen).getName), e.getMessage)
  }

  test("a stale swap claim landing late can never shadow a newer generation (ADVICE r17: dense-claim swap)") {
    val dir = Files.createTempDirectory("graft_gen_cas").toString
    val v1 = LexicalIndex.writeBm25Index(docsA, dir, nBuckets = 4)
    // the slow rebuild reads its basis (version 1) and writes its whole
    // index; before it claims, a fast rebuild commits version 2, whose
    // prune takes the slow dir: it can never commit now
    var slow = ""
    var fast = ""
    intercept[java.util.ConcurrentModificationException] {
      IndexMaintenance.commitBuild(spark, dir) { v =>
        slow = v
        LexicalIndex.writeBm25Layout(docsB, v, "doc_id", "text", nBuckets = 4)
        fast = LexicalIndex.writeBm25Index(docsC, dir, nBuckets = 4)
      }
    }
    // the stale claim never landed: readers resolve the fast rebuild
    assert(Sources.resolveSnapshot(spark, dir) == fast)
    assert(searchBm25(dir) == bm25Oracle(docsC))
    // and the losing rebuild left no dir and no claim behind
    assert(!new java.io.File(slow).exists(), "the losing rebuild's dir was kept")
    assert(names(dir).filter(n => n.startsWith("v-") || n.startsWith("commit-")) ==
      Set(v1, fast).map(new java.io.File(_).getName) ++
        Set("commit-000000000001", "commit-000000000002"))
    // a rebuild from a fresh basis lands
    val redo = LexicalIndex.writeBm25Index(docsB, dir, nBuckets = 4)
    assert(Sources.resolveSnapshot(spark, dir) == redo)
    assert(searchBm25(dir) == bm25Oracle(docsB))
  }

  test("resolve, maintenance and rebuild refuse a root of the earlier generation layout, naming it") {
    // a root as the swap layout left it: an index layout at the root, a
    // generation dir, and its `_gen` pointer or `genswap-*` claim —
    // without the refusal it would resolve to the stale root layout
    for (marker <- Seq("_gen", "genswap-000000000001")) {
      val dir = Files.createTempDirectory("graft_gen_preclaim").toString
      LexicalIndex.writeBm25Layout(docsA, dir, "doc_id", "text", nBuckets = 2)
      LexicalIndex.writeBm25Layout(docsB, s"$dir/gen-1-x", "doc_id", "text", nBuckets = 2)
      Files.write(java.nio.file.Paths.get(dir, marker), "gen-1-x".getBytes("UTF-8")): Unit
      val before = names(dir)
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains(dir) && e.getMessage.contains(marker), s"$what: ${e.getMessage}")
      }
      refused("resolve")(Sources.resolveSnapshot(spark, dir))
      refused("search")(searchBm25(dir))
      refused("apply")(LexicalIndex.applyBm25IndexChanges(spark, dir,
        Seq((7L, "a new spark doc", "new")).toDF("doc_id", "text", "_change"), mode = "append"))
      refused("maintenance")(LexicalIndex.maintainBm25IfNeeded(spark, dir))
      refused("rebuild")(LexicalIndex.writeBm25Index(docsB, dir, nBuckets = 2))
      assert(names(dir) == before, s"${names(dir) -- before}")
    }
  }

  test("a crash before the claim leaves the old generation live, one after it the new; the next rebuild lands either way") {
    val dir = Files.createTempDirectory("graft_gen_crash").toString
    val v1 = LexicalIndex.writeBm25Index(docsA, dir, nBuckets = 4)
    // crash before the claim: version 2 written whole, never claimed
    val crashed = "v-000000000002-crashed0"
    LexicalIndex.writeBm25Layout(docsB, s"$dir/$crashed", "doc_id", "text", nBuckets = 4)
    assert(Sources.resolveSnapshot(spark, dir) == v1)
    assert(searchBm25(dir) == bm25Oracle(docsA))
    // the next rebuild lands at once, at the number the crash never
    // took, and its prune takes the dir that can never commit
    val gen2 = LexicalIndex.writeBm25Index(docsB, dir, nBuckets = 4)
    assert(new java.io.File(gen2).getName.startsWith("v-000000000002-"))
    assert(Sources.resolveSnapshot(spark, dir) == gen2)
    assert(!names(dir)(crashed), s"crashed dir survived: ${names(dir)}")
    // crash after the claim: the claim is the commit
    val claimed = "v-000000000003-crashed1"
    LexicalIndex.writeBm25Layout(docsC, s"$dir/$claimed", "doc_id", "text", nBuckets = 4)
    Claims.plant(dir, 3L, Claims.snapshot(claimed))
    assert(Sources.resolveSnapshot(spark, dir) == s"$dir/$claimed")
    assert(searchBm25(dir) == bm25Oracle(docsC))
    val gen4 = LexicalIndex.writeBm25Index(docsA, dir, nBuckets = 4)
    assert(new java.io.File(gen4).getName.startsWith("v-000000000004-"))
    assert(Sources.resolveSnapshot(spark, dir) == gen4)
    assert(searchBm25(dir) == bm25Oracle(docsA))
  }

  test("a reader that resolved a generation reads it through two later rebuilds; the third removes it") {
    val dir = Files.createTempDirectory("graft_gen_window").toString
    LexicalIndex.writeBm25Index(docsA, dir, nBuckets = 4): Unit
    LexicalIndex.writeBm25Index(docsB, dir, nBuckets = 4): Unit
    // the reader resolves once and keeps reading what it resolved
    val pinned = Sources.resolveSnapshot(spark, dir)
    val seen = searchBm25(pinned)
    assert(seen == bm25Oracle(docsB))
    LexicalIndex.writeBm25Index(docsC, dir, nBuckets = 4): Unit
    LexicalIndex.writeBm25Index(docsA, dir, nBuckets = 4): Unit
    assert(searchBm25(pinned) == seen, "a generation inside the window changed under its reader")
    LexicalIndex.writeBm25Index(docsC, dir, nBuckets = 4): Unit
    assert(!new java.io.File(pinned).exists(), "a generation below the window was kept")
    assert(names(dir).filter(_.startsWith("commit-")) ==
      Set(3L, 4L, 5L).map(n => f"commit-$n%012d"))
    assert(names(dir).count(_.startsWith("v-")) == 3, s"${names(dir)}")
    assert(searchBm25(dir) == bm25Oracle(docsC))
  }
}
