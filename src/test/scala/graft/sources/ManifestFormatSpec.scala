package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.types.TableConfig

/** Every merge-table manifest states its format version on its first
  * line. A manifest that states an unknown version, or none, is a
  * layout this engine does not know: every read, publish, compaction,
  * time-travel read, change feed and vacuum refuses it with an error
  * that names it, and the prune that runs after a commit deletes
  * nothing rather than guess what such a manifest references. A table
  * is committed by its first write, so a root that holds plain
  * `<col>=<val>` dirs but no claim (an earlier build's partitioned
  * write) is refused the same way, as is an index whose postings or
  * codes are laid out so. */
class ManifestFormatSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TableConfig("t", Seq("k"), Seq.empty)

  private val plants = Seq[(String, String => String)](
    "version 99" -> (_.replaceFirst("^version\t1\n", "version\t99\n")),
    "no version line" -> (_.split("\n").tail.mkString("\n")))

  /** A table of `n` merge publishes: versions 1 to n. */
  private def table(tag: String, n: Int): String = {
    val dir = Files.createTempDirectory(s"graft_mfmt_$tag").toString + "/t"
    for (v <- 1 to n)
      Sources.publishMergePartitioned(spark, dir,
        Seq((v.toLong, s"v$v", v % 2)).toDF("k", "v", "p"), cfg, "p")
    dir
  }

  private def manifest(dir: String, n: Int): String =
    names(dir).find(_.startsWith(f"manifest-$n%012d-")).get

  private def names(dir: String): Set[String] = new java.io.File(dir).list().toSet

  private def rewrite(dir: String, name: String)(f: String => String): String = {
    val p = Paths.get(dir, name)
    val text = Files.readString(p)
    Files.writeString(p, f(text))
    text
  }

  for ((tag, plant) <- plants) {
    test(s"a live manifest with $tag is refused by every read and every write") {
      val dir = table(tag.replace(' ', '_'), 3)
      val live = Claims.live(dir)
      rewrite(dir, live)(plant): Unit
      val before = names(dir)
      val ck = Files.createTempDirectory("graft_mfmt_ck").toString
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains(s"$dir/$live"), s"$what: ${e.getMessage}")
      }
      val batch = Seq((9L, "x", 1)).toDF("k", "v", "p")
      refused("read")(Sources.readMergePartitioned(spark, dir, "p"))
      refused("keyed read")(Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(1L)))
      refused("range read")(
        Sources.readMergePartitionedRange(spark, dir, "p", "k", Some(1L), None))
      refused("merge")(Sources.publishMergePartitioned(spark, dir, batch, cfg, "p"))
      refused("append")(Sources.publishMergeAppend(spark, dir, batch, "p"))
      refused("replace")(Sources.publishMergeReplace(spark, dir, batch, "p", Seq(1)))
      refused("delete")(
        Sources.publishMergeDeletes(spark, dir, Seq((1L, 1)).toDF("k", "p"), cfg, "p"))
      refused("compaction")(Sources.compactMergePartitioned(spark, dir, "p"))
      refused("time travel")(Sources.readMergePartitionedVersion(spark, dir, 3L))
      refused("partition feed")(Sources.readMergePartitionedChanges(spark, dir, 1L, "p"))
      refused("row feed")(Sources.mergeRowChangesSince(spark, dir, 1L, Seq("k"), "p"))
      refused("consumer")(
        Sources.processMergeRowChanges(spark, dir, ck, Seq("k"), "p")((d, _) => d.count()))
      refused("vacuum")(Sources.vacuumOrphans(spark, dir, olderThanMs = 0L))
      refused("key index")(Sources.indexBatchKeys(spark, dir, "k"))
      // the refused writes wrote nothing and deleted nothing
      assert(names(dir) == before)
      // a retained version in the known format still reads
      assert(Sources.readMergePartitionedVersion(spark, dir, 1L).count() == 1)
    }

    test(s"the prune after a commit deletes nothing while a retained manifest has $tag") {
      // after publish 6 the prune protects manifests 4 to 6 and takes
      // the aged ones below: plant into a candidate (1) and into a
      // protected one (4)
      for (planted <- Seq(1, 4)) {
        val dir = table(s"prune_$planted", 5)
        val aged = System.currentTimeMillis() - 11L * 60 * 1000
        (1 to 5).foreach(n => new java.io.File(dir, manifest(dir, n)).setLastModified(aged): Unit)
        val name = manifest(dir, planted)
        val text = rewrite(dir, name)(plant)
        new java.io.File(dir, name).setLastModified(aged): Unit
        val before = names(dir)
        Sources.publishMergePartitioned(spark, dir, Seq((6L, "v6", 0)).toDF("k", "v", "p"), cfg, "p")
        assert(before.subsetOf(names(dir)), s"planted $planted: ${before -- names(dir)}")
        // with the manifest restored the next prune takes the aged ones
        rewrite(dir, name)(_ => text): Unit
        new java.io.File(dir, name).setLastModified(aged): Unit
        Sources.publishMergePartitioned(spark, dir, Seq((7L, "v7", 1)).toDF("k", "v", "p"), cfg, "p")
        assert(!names(dir).exists(_.startsWith(f"manifest-${1}%012d-")), s"planted $planted")
        assert(Sources.readMergePartitioned(spark, dir, "p").count() == 7)
      }
    }
  }

  /** Refusals of a plain layout: `f` throws naming `root` and the
    * planted `p=1`-style dir `seg`. */
  private def refusedPlain(root: String, seg: String, what: String)(f: => Any): Unit = {
    val e = intercept[IllegalStateException](f)
    assert(e.getMessage.contains(root) && e.getMessage.contains(seg), s"$what: ${e.getMessage}")
  }

  /** Replaces merge table `table` by the plain `partitionCol=<val>`
    * layout of its rows, with no claim: what an earlier build wrote. */
  private def plainOver(table: String, partitionCol: String): Unit = {
    val df = Sources.readMergePartitioned(spark, table, partitionCol)
    val rows = spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
    rows.write.partitionBy(partitionCol).parquet(table)
  }

  test("a root of plain col=val dirs and no claim is refused by every read and write; an absent root takes a first publish") {
    val dir = Files.createTempDirectory("graft_mfmt_plain").toString + "/t"
    Seq((1L, "v1")).toDF("k", "v").write.parquet(s"$dir/p=1")
    val before = names(dir)
    val ck = Files.createTempDirectory("graft_mfmt_plain_ck").toString
    def refused(what: String)(f: => Any): Unit = refusedPlain(dir, "p=1", what)(f)
    val batch = Seq((9L, "x", 1)).toDF("k", "v", "p")
    refused("merge")(Sources.publishMergePartitioned(spark, dir, batch, cfg, "p"))
    refused("append")(Sources.publishMergeAppend(spark, dir, batch, "p"))
    refused("delete")(
      Sources.publishMergeDeletes(spark, dir, Seq((1L, 1)).toDF("k", "p"), cfg, "p"))
    refused("replace")(Sources.publishMergeReplace(spark, dir, batch, "p", Seq(1)))
    refused("compaction")(Sources.compactMergePartitioned(spark, dir, "p"))
    refused("key index")(Sources.indexBatchKeys(spark, dir, "k"))
    refused("read")(Sources.readMergePartitioned(spark, dir, "p"))
    refused("keyed read")(Sources.readMergePartitionedKeyed(spark, dir, "p", "k", Seq(1L)))
    refused("range read")(
      Sources.readMergePartitionedRange(spark, dir, "p", "k", Some(1L), None))
    refused("row feed")(Sources.mergeRowChangesSince(spark, dir, 1L, Seq("k"), "p"))
    refused("consumer")(
      Sources.processMergeRowChanges(spark, dir, ck, Seq("k"), "p")((d, _) => d.count()))
    // the refused writes wrote nothing, and no consumer checkpoint
    assert(names(dir) == before)
    assert(names(ck).isEmpty)
    // an absent root, and an empty one, each take a first publish
    val empty = Files.createTempDirectory("graft_mfmt_empty").toString
    for (root <- Seq(s"$dir-absent", empty)) {
      Sources.publishMergePartitioned(spark, root, batch, cfg, "p")
      assert(Sources.readMergePartitioned(spark, root, "p").count() == 1)
    }
  }

  test("an index whose postings or codes are plain col=val dirs with no claim is refused by search and apply") {
    import graft.operators.{LexicalIndex, SimilaritySearch}
    val docs = (1L to 6L).map(i => (i, s"spark merge doc$i")).toDF("doc_id", "text")
    val bm25 = Files.createTempDirectory("graft_mfmt_bm25").toString
    val postings = s"${LexicalIndex.writeBm25Index(docs, bm25, nBuckets = 2)}/postings"
    plainOver(postings, "_b")
    val inPostings = names(postings)
    val bm25Feed = Seq((2L, "", "orphaned")).toDF("doc_id", "text", "_change")
    refusedPlain(postings, "_b=", "bm25 search")(
      LexicalIndex.searchBm25Index(spark, bm25, Seq("spark"), k = 3))
    refusedPlain(postings, "_b=", "bm25 apply")(
      LexicalIndex.applyBm25IndexChanges(spark, bm25, bm25Feed))
    assert(names(postings) == inPostings)

    def vec(id: Long): Seq[Float] = Seq.tabulate(4)(i => ((id * 7 + i * 3) % 13).toFloat)
    val corpus = (0L until 12L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val ivf = Files.createTempDirectory("graft_mfmt_ivfpq").toString
    val codes = s"${SimilaritySearch.writeIvfPqIndex(corpus, ivf, 0L until 2L, 0L until 2L,
      m = 2)}/codes"
    plainOver(codes, "_list")
    val inCodes = names(codes)
    refusedPlain(codes, "_list=", "ivf-pq search")(
      SimilaritySearch.searchIvfPqIndex(spark, ivf, corpus.filter($"vec_id" === 0L), k = 2))
    refusedPlain(codes, "_list=", "ivf-pq apply")(SimilaritySearch.applyIvfPqIndexChanges(
      spark, ivf, corpus.filter($"vec_id" === 3L).withColumn("_change",
        org.apache.spark.sql.functions.lit("orphaned"))))
    assert(names(codes) == inCodes)
  }
}
