package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.operators.Dedup
import graft.types.TableConfig

/** A snapshot table's state is the version dir its highest `commit-<n>`
  * claim names, and every claim states its format version on its first
  * line. A claim that states an unknown version, or none (as the claims
  * of snapshot tables from before the versioned format do), is refused
  * with an error that names it by every read, publish and time-travel
  * read, and the prune deletes nothing past it. A root holding a
  * `_current` pointer but no claim is refused, naming the root. The
  * existence probe fails loudly on an I/O error instead of reading as
  * absent. */
class SnapshotClaimFormatSpec extends SparkSpec {
  import spark.implicits._

  HookFs.register(spark.sparkContext.hadoopConfiguration)

  private val plants = Seq[(String, String => String)](
    "version 99" -> (_.replaceFirst("^version\t1\n", "version\t99\n")),
    "no version line" -> (_.split("\n").tail.mkString("\n")))

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_sfmt_$tag").toString + "/t"

  private def names(dir: String): Set[String] = new java.io.File(dir).list().toSet

  private def members(v: Int) = Seq("a" -> Seq(v).toDF("x"), "b" -> Seq(v).toDF("x"))

  private def rewrite(dir: String, name: String)(f: String => String): String = {
    val p = Paths.get(dir, name)
    val text = Files.readString(p)
    Files.writeString(p, f(text))
    text
  }

  for ((tag, plant) <- plants) {
    test(s"a snapshot claim with $tag is refused by every read, publish, time-travel read and prune") {
      val dir = fresh(tag.replace(' ', '_'))
      for (v <- 1 to 5) Sources.publishSnapshotGroup(members(v), dir)
      val claim = "commit-000000000005"
      val text = rewrite(dir, claim)(plant)
      // a dir the prune would take (version 5 is committed by another)
      val dead = "v-000000000005-00000000"
      Seq(0).toDF("x").write.parquet(s"$dir/$dead/a")
      val before = names(dir)
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains(s"$dir/$claim"), s"$what: ${e.getMessage}")
      }
      refused("read")(Sources.readSnapshot(spark, dir))
      refused("group read")(Sources.readSnapshotGroupAll(spark, dir, Seq("a", "b")))
      refused("resolve")(Sources.resolveSnapshot(spark, dir))
      refused("publish")(Sources.publishSnapshotGroup(members(9), dir))
      refused("pinned publish")(Sources.publishSnapshotGroup(members(9), dir,
        basis = Some(Sources.snapshotReadBasis(spark, dir))))
      refused("single-frame publish")(Sources.publishSnapshot(Seq(9).toDF("x"), dir))
      refused("time travel")(Sources.readSnapshotGroupVersion(spark, dir, 5L, Seq("a", "b")))
      refused("retained versions")(Sources.snapshotVersions(spark, dir))
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
        spark.sparkContext.hadoopConfiguration)
      Sources.pruneSnapshotVersions(fs, new org.apache.hadoop.fs.Path(dir))
      // the refused writes wrote nothing and the prune deleted nothing
      assert(names(dir) == before, s"${before -- names(dir)} / ${names(dir) -- before}")
      // a retained version in the known format still reads
      assert(Sources.readSnapshotGroupVersion(spark, dir, 4L, Seq("a", "b"))("a")
        .as[Int].collect().toSeq == Seq(4))
      // with the claim restored the prune takes the dead dir
      rewrite(dir, claim)(_ => text): Unit
      Sources.pruneSnapshotVersions(fs, new org.apache.hadoop.fs.Path(dir))
      assert(!names(dir)(dead), s"${names(dir)}")
      assert(Sources.readSnapshotGroup(spark, dir, "b").as[Int].collect().toSeq == Seq(5))
    }
  }

  test("a root holding _current but no claim is refused by merge and snapshot reads and writes, naming it") {
    def refused(dir: String, what: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(dir) && e.getMessage.contains("_current"), s"$what: ${e.getMessage}")
    }
    // a merge table as the pointer-swap layout left it, claims gone
    val merge = fresh("merge")
    val cfg = TableConfig("t", Seq("k"), Seq.empty)
    Sources.publishMergePartitioned(spark, merge, Seq((1L, 1)).toDF("k", "p"), cfg, "p")
    val manifest = Claims.live(merge)
    Files.delete(Paths.get(merge, "commit-000000000001"))
    Files.writeString(Paths.get(merge, "_current"), manifest)
    val ck = Files.createTempDirectory("graft_sfmt_ck").toString
    refused(merge, "merge read")(Sources.readMergePartitioned(spark, merge, "p"))
    refused(merge, "merge publish")(
      Sources.publishMergePartitioned(spark, merge, Seq((2L, 1)).toDF("k", "p"), cfg, "p"))
    refused(merge, "change feed")(
      Sources.processMergeRowChanges(spark, merge, ck, Seq("k"), "p")((d, _) => d.count()))
    // a snapshot table likewise
    val snap = fresh("snap")
    Sources.publishSnapshot(Seq(1).toDF("x"), snap)
    val vdir = Claims.live(snap)
    Files.delete(Paths.get(snap, "commit-000000000001"))
    Files.writeString(Paths.get(snap, "_current"), vdir)
    refused(snap, "snapshot read")(Sources.readSnapshot(spark, snap))
    refused(snap, "snapshot basis")(Sources.snapshotReadBasis(spark, snap))
    refused(snap, "snapshot publish")(Sources.publishSnapshot(Seq(2).toDF("x"), snap))
  }

  test("an I/O error on the existence probe reaches the caller, and nothing is published") {
    val local = fresh("probe")
    val store = s"${HookFs.Scheme}://$local"
    val doc = "the quick brown fox jumps over the lazy dog near the river bank today"
    Dedup.incrementalMinhashDedup(Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text", store)
    val version = Sources.snapshotReadBasis(spark, store)
    val stored = Sources.readSnapshot(spark, store).count()
    HookFs.onStatus(p => if (p.toUri.getPath == local)
      throw new java.io.IOException("injected failure probing the store"))
    try {
      intercept[java.io.IOException](Sources.snapshotExists(spark, store))
      // read as "absent", the probe failure would republish the store
      // holding this batch alone
      val e = intercept[java.io.IOException](Dedup.incrementalMinhashDedup(
        Seq((2L, "a different document about parquet footers and row groups")).toDF("doc_id", "text"),
        "doc_id", "text", store))
      assert(e.getMessage.contains("injected"), e.getMessage)
    } finally HookFs.disarm()
    assert(Sources.snapshotReadBasis(spark, store) == version)
    assert(Sources.readSnapshot(spark, store).count() == stored)
    assert(Sources.snapshotExists(spark, store))
    assert(!Sources.snapshotExists(spark, s"${HookFs.Scheme}://$local-absent"))
  }
}
