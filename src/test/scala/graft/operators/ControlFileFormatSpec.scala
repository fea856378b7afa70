package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.Sources
import graft.types.TableConfig

/** Every control file that holds one number — an LSM index's `_floor`
  * and a change-feed checkpoint's `_version` — states its format version
  * on its first line, as an index root's commit claim does. A file that
  * states an unknown version, or none (as the files of earlier builds
  * do), is refused with an error that names it by every reader and
  * writer, which then write nothing. A checkpoint that holds no number
  * is refused too; an absent one still means a first run. */
class ControlFileFormatSpec extends SparkSpec {
  import spark.implicits._

  private val plants = Seq[(String, String => String)](
    "version 99" -> (_.replaceFirst("^version\t1\n", "version\t99\n")),
    "no version line" -> (_.split("\n").tail.mkString("\n")))

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_cfmt_$tag").toString

  private def names(dir: String): Set[String] = new java.io.File(dir).list().toSet

  /** Rewrites file `path` with `f`; returns its old content. */
  private def rewrite(path: String)(f: String => String): String = {
    val p = Paths.get(path)
    val text = Files.readString(p)
    Files.writeString(p, f(text))
    text
  }

  private def refused(file: String, what: String)(f: => Any): Unit = {
    val e = intercept[IllegalStateException](f)
    assert(e.getMessage.contains(file), s"$what: ${e.getMessage}")
  }

  private def feed(n: Int) =
    Seq((n.toLong, s"fresh spark doc $n", "new")).toDF("doc_id", "text", "_change")

  private val docs = (1L to 8L).map(i => (i, s"term$i spark merge doc$i")).toDF("doc_id", "text")

  for ((tag, plant) <- plants) {
    val slug = tag.replace(' ', '_')

    test(s"an LSM _floor with $tag is refused by every apply, compaction and tombstone read") {
      val dir = fresh(s"floor_$slug")
      val v = LexicalIndex.writeBm25Index(docs, dir, nBuckets = 2)
      LexicalIndex.applyBm25IndexChanges(spark, dir, feed(9), mode = "append"): Unit
      LexicalIndex.compactBm25Index(spark, dir)
      val floor = s"$v/tombstones/_floor"
      assert(Files.readString(Paths.get(floor)).startsWith("version\t1\n"),
        "the floor states no format version")
      LexicalIndex.applyBm25IndexChanges(spark, dir, feed(10), mode = "append"): Unit
      val text = rewrite(floor)(plant)
      val before = names(s"$v/tombstones")
      refused(floor, "apply")(LexicalIndex.applyBm25IndexChanges(spark, dir, feed(11),
        mode = "append"))
      refused(floor, "compaction")(LexicalIndex.compactBm25Index(spark, dir))
      refused(floor, "next seq")(LsmTombstones.nextSeq(spark, v))
      refused(floor, "fold seq")(LsmTombstones.maxLiveSeq(spark, v))
      refused(floor, "clear")(LsmTombstones.clear(spark, v, 99L))
      assert(names(s"$v/tombstones") == before)
      assert(Files.readString(Paths.get(floor)) == plant(text), "a refused writer rewrote the floor")
      // restored, the same apply and compaction go through
      rewrite(floor)(_ => text): Unit
      LexicalIndex.applyBm25IndexChanges(spark, dir, feed(11), mode = "append"): Unit
      LexicalIndex.compactBm25Index(spark, dir)
      assert(LsmTombstones.isEmpty(spark, v))
    }

    test(s"a change-feed checkpoint with $tag is refused by every consumer, and nothing advances") {
      val r = fresh(s"ck_$slug")
      val (dir, ck) = (s"$r/t", s"$r/ck")
      val cfg = TableConfig("t", Seq("k"), Seq.empty)
      def publish(k: Long) = Sources.publishMergePartitioned(spark, dir,
        Seq((k, s"v$k", 1)).toDF("k", "v", "p"), cfg, "p")
      publish(1L)
      assert(Sources.processMergeRowChanges(spark, dir, ck, Seq("k"), "p")((_, v) => v).isDefined)
      publish(2L)
      val version = s"$ck/_version"
      val text = rewrite(version)(plant)
      var called = false
      refused(version, "change feed")(Sources.processMergeChanges(spark, dir, ck, "p") {
        (_, _) => called = true })
      refused(version, "row change feed")(Sources.processMergeRowChanges(spark, dir, ck,
        Seq("k"), "p") { (_, _) => called = true })
      refused(version, "row change feed with deletes")(Sources.processMergeRowChangesWithDeletes(
        spark, dir, ck, Seq("k"), "p") { (_, _) => called = true })
      assert(!called, "a consumer ran on a refused checkpoint")
      assert(Files.readString(Paths.get(version)) == plant(text), "the checkpoint advanced")
      // restored, the delta since the checkpoint is delivered, not a resync
      rewrite(version)(_ => text): Unit
      val d = Sources.processMergeRowChangesWithDeletes(spark, dir, ck, Seq("k"), "p")(
        (d, _) => (d.fullResync, d.delta.select("k").as[Long].collect().toSeq)).get
      assert(d == (false, Seq(2L)))
    }

    test(s"an index claim with $tag is refused by every read, apply, maintenance and rebuild") {
      val dir = fresh(s"idx_$slug")
      LexicalIndex.writeBm25Index(docs, dir, nBuckets = 2): Unit
      val claim = s"$dir/commit-000000000001"
      rewrite(claim)(plant): Unit
      val before = names(dir)
      refused(claim, "resolve")(Sources.resolveSnapshot(spark, dir))
      refused(claim, "search")(LexicalIndex.searchBm25Index(spark, dir, Seq("spark"), k = 3))
      refused(claim, "apply")(LexicalIndex.applyBm25IndexChanges(spark, dir, feed(9),
        mode = "append"))
      refused(claim, "maintenance")(LexicalIndex.maintainBm25IfNeeded(spark, dir))
      refused(claim, "rebuild")(LexicalIndex.writeBm25Index(docs, dir, nBuckets = 2))
      assert(names(dir) == before, s"${names(dir) -- before} / ${before -- names(dir)}")
    }
  }

  test("a checkpoint that holds no number is refused; an absent one is a first run") {
    val r = fresh("ck_nan")
    val (dir, ck) = (s"$r/t", s"$r/ck")
    val cfg = TableConfig("t", Seq("k"), Seq.empty)
    Sources.publishMergePartitioned(spark, dir, Seq((1L, "v1", 1)).toDF("k", "v", "p"), cfg, "p")
    def deliver() = Sources.processMergeRowChangesWithDeletes(spark, dir, ck, Seq("k"), "p")(
      (d, v) => (d.fullResync, v))
    assert(deliver() == Some((true, 1L)), "an absent checkpoint is not a first run")
    Files.writeString(Paths.get(ck, "_version"), "version\t1\nnot-a-number")
    refused(s"$ck/_version", "unparseable checkpoint")(deliver())
  }
}
