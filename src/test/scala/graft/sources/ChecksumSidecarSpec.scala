package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.types.TableConfig

/** Control-file writes leave no orphaned checksum sidecar: every
  * `.<name>.crc` under a table root belongs to a file that exists.
  * Hadoop's local FS writes such a sidecar beside each file it
  * creates; a temp pointer moved into place alone used to leave its
  * `.<name>.tmp-<stamp>.crc` behind on every swap. */
class ChecksumSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def orphanedChecksums(root: String): Seq[String] = {
    val files = Files.walk(Paths.get(root)).iterator().asScala.toSeq
      .filter(Files.isRegularFile(_))
    files.map(_.getFileName.toString).zip(files).collect {
      case (n, p) if n.startsWith(".") && n.endsWith(".crc") &&
          !Files.exists(p.resolveSibling(n.drop(1).dropRight(4))) => p.toString
    }
  }

  private def fresh(): String = Files.createTempDirectory("graft_crc").toString

  private val cfg = TableConfig("t", Seq("k"), Seq.empty)

  test("snapshot, group and merge publishes plus checkpoint advances leave no orphaned .crc") {
    val root = fresh()
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val n = 4
    for (_ <- 1 to n) Sources.publishSnapshot(df, s"$root/snap")
    for (_ <- 1 to n) Sources.publishSnapshotGroup(Seq("x" -> df, "y" -> df), s"$root/group")
    for (i <- 1 to n) {
      Sources.publishMergePartitioned(spark, s"$root/merge",
        Seq((i, s"v$i", i % 2)).toDF("k", "v", "p"), cfg, "p")
      assert(Sources.processMergeRowChanges(spark, s"$root/merge", s"$root/ck",
        Seq("k"), "p")((_, v) => v).isDefined)
    }
    assert(orphanedChecksums(root).isEmpty, orphanedChecksums(root).mkString("\n"))
  }

  test("the prune sweeps temp-file sidecars an older writer left, and keeps live ones") {
    val root = fresh()
    val df = Seq((1, "a")).toDF("k", "v")
    Sources.publishSnapshot(df, s"$root/snap")
    Sources.publishMergePartitioned(spark, s"$root/merge",
      Seq((1, "a", 0)).toDF("k", "v", "p"), cfg, "p")
    def touch(p: Path): Path = Files.write(p, Array[Byte](1, 2))
    val orphans = Seq(s"$root/snap", s"$root/merge")
      .map(d => touch(Paths.get(d, "._current.tmp-deadbeef.crc")))
    // a temp file still being written keeps its sidecar
    val live = touch(Paths.get(root, "snap", "_current.tmp-inflight"))
    val liveCrc = touch(Paths.get(root, "snap", "._current.tmp-inflight.crc"))
    Sources.publishSnapshot(df, s"$root/snap")
    Sources.publishMergePartitioned(spark, s"$root/merge",
      Seq((2, "b", 0)).toDF("k", "v", "p"), cfg, "p")
    assert(orphans.forall(!Files.exists(_)))
    assert(Files.exists(live) && Files.exists(liveCrc))
  }
}
