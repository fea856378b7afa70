package graft.sources

import java.nio.file.{Files, Paths}

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
    assert(Sources.compactMergePartitioned(spark, s"$root/merge", "p") == 2)
    Sources.publishMergePartitioned(spark, s"$root/merge",
      Seq((9, "v9", 1)).toDF("k", "v", "p"), cfg, "p")
    // index builds past version 4, where the prune takes the initial
    // build (version 1)
    for (_ <- 1 to 4)
      graft.operators.IndexMaintenance.commitBuild(spark, s"$root/index")(v =>
        assert(new java.io.File(v).mkdirs())): Unit
    assert(orphanedChecksums(root).isEmpty, orphanedChecksums(root).mkString("\n"))
  }
}
