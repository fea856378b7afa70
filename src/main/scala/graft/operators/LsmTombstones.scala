package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seq-versioned tombstones for append-maintained index tables — the
  * retraction half of the LSM discipline
  * ([[graft.sources.Sources.publishMergeAppend]] is the insertion
  * half). A tombstone `(key, _ts_seq = n)` kills every row of `key`
  * written with `_seq < n`; rows the SAME apply re-inserts carry
  * `_seq = n` and survive (strict inequality), which is what lets one
  * feed retract-and-replace a key without reading its old rows at
  * all.
  *
  * == Storage: append-only segments (round 15) ==
  * The tombstone set is itself log-structured — each [[append]] writes
  * ONE new immutable segment dir (`tombstones/seg-<seq>-<uid>/`) and a
  * read is the union of the live segments. There is no
  * read-modify-write anywhere: two appends that overlap in time write
  * DISTINCT segment dirs and BOTH sets of kills stay visible — a lost
  * kill is structurally impossible (LsmConcurrencySpec races this).
  * The pre-r15 design snapshot-published the whole set per apply,
  * which made overlapping appliers last-writer-wins on the KILL set.
  *
  * Compaction folds the kills into the data and [[clear]]s the
  * consumed segments, recording the folded high-water seq in a
  * `_floor` control file so [[nextSeq]] never reissues a consumed
  * generation number (folded data rows are stamped AT the floor; see
  * the compaction-visibility note on
  * [[LexicalIndex.compactBm25Index]]). The floor states its format
  * version on its first line ([[graft.sources.Sources.readNumberFile]]):
  * one in a format this engine does not read is refused by every apply,
  * compaction and [[clear]].
  *
  * == Writer discipline ==
  * Kill-set appends are safe under overlapping writers (above), and
  * two appliers may even observe the same [[nextSeq]] — their
  * re-inserted rows then share a generation, which is only ambiguous
  * if both touch the SAME key (last-writer-wins is then undefined;
  * concurrent appliers must feed disjoint keys). The DATA half of an
  * apply goes through the merge-table publish path, which since r16
  * commits through the optimistic claim protocol
  * ([[graft.sources.Sources]] `commitMergeManifest`): overlapping
  * append publishes REBASE (both batches land — an accidental
  * double-applier can no longer silently drop a rival's data rows,
  * matching the kill set's guarantee), and a compaction racing an
  * apply REFUSES rather than folding the apply away. Index
  * maintenance still keeps the single-logical-writer posture (the
  * checkpointed change-feed consumer) for SEMANTIC reasons — shared
  * seq generations on the same key are undefined, and a refused
  * compaction must be retried — but the failure mode of an
  * accidental overlap is now loud-or-merged, never a silent lost
  * update on either half. */
private[operators] object LsmTombstones {

  private val SegPrefix = "seg-"
  private val FloorName = "_floor"

  private def dirOf(indexDir: String) = s"$indexDir/tombstones"

  private def fsOf(spark: SparkSession, d: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)

  /** Live segment dirs as (seq, path), unordered. */
  private def segments(spark: SparkSession,
      indexDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val d = dirOf(indexDir)
    val fs = fsOf(spark, d)
    val root = new org.apache.hadoop.fs.Path(d)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(SegPrefix) =>
        val num = st.getPath.getName.drop(SegPrefix.length).takeWhile(_.isDigit)
        (if (num.isEmpty) 0L else num.toLong, st.getPath)
    }
  }

  /** Compaction high-water mark: every generation ≤ floor has been
    * folded into the data; folded rows are stamped AT the floor. */
  def floor(spark: SparkSession, indexDir: String): Long = {
    val d = dirOf(indexDir)
    val fs = fsOf(spark, d)
    graft.sources.Sources.readNumberFile(fs, new org.apache.hadoop.fs.Path(d, FloorName))
      .getOrElse(0L)
  }

  /** True iff live (un-folded) tombstone segments exist. Listing-only
    * — no Spark job. */
  def exists(spark: SparkSession, indexDir: String): Boolean =
    segments(spark, indexDir).nonEmpty

  def isEmpty(spark: SparkSession, indexDir: String): Boolean =
    !exists(spark, indexDir)

  /** Union of the live segments, or None when there are none. */
  def read(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val segs = segments(spark, indexDir)
    if (segs.isEmpty) None
    else Some(spark.read.parquet(segs.map(_._2.toString): _*))
  }

  /** The apply sequence the NEXT append-apply should stamp:
    * max(live segment seq, compaction floor) + 1. Derived from dir
    * NAMES and the floor file — no data read. */
  def nextSeq(spark: SparkSession, indexDir: String): Long =
    (segments(spark, indexDir).map(_._1) :+ floor(spark, indexDir)).max + 1L

  /** Highest live segment seq (the fold stamp compaction uses), or
    * the floor when no segments are live. */
  def maxLiveSeq(spark: SparkSession, indexDir: String): Long =
    (segments(spark, indexDir).map(_._1) :+ floor(spark, indexDir)).max

  /** (live segment count, live segment bytes) — listing-only, the
    * cheap health probe appliers can afford on every apply. */
  def segmentStats(spark: SparkSession, indexDir: String): (Int, Long) = {
    val segs = segments(spark, indexDir)
    if (segs.isEmpty) (0, 0L)
    else {
      val fs = fsOf(spark, dirOf(indexDir))
      (segs.size, segs.map(s => fs.getContentSummary(s._2).getLength).sum)
    }
  }

  /** Publish `keys` as ONE new tombstone segment at `seq`. `keys` must
    * be a single-column frame named `keyCol`; re-deleting a key is
    * subsumed at read time ([[filterLive]] takes the max seq per key).
    * Append-only: never reads or rewrites existing segments, so
    * overlapping appends cannot lose each other's kills. An empty
    * `keys` frame publishes nothing. */
  def append(spark: SparkSession, indexDir: String, keys: DataFrame,
      keyCol: String, seq: Long): Unit = {
    val fresh = keys.select(col(keyCol)).distinct()
      .withColumn("_ts_seq", lit(seq))
    if (fresh.isEmpty) return
    val d = dirOf(indexDir)
    val fs = fsOf(spark, d)
    val uid = java.util.UUID.randomUUID().toString.take(8)
    // write to a hidden tmp dir, then one atomic dir rename publishes
    // the segment whole — a concurrent reader's listing never sees a
    // half-written segment
    val tmp = s"$d/.tmp-$uid"
    fresh.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val dst = new org.apache.hadoop.fs.Path(d, f"$SegPrefix$seq%012d-$uid")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
      s"tombstone segment publish rename failed: $tmp -> $dst")
  }

  /** Retire every segment with seq ≤ `upToSeq` (compaction consumed
    * them) and advance the `_floor` mark. Floor first, segments
    * second: a crash between the two leaves harmless already-folded
    * segments that the next clear retires, never a reissued
    * generation. Leftover `.tmp-*` dirs from crashed appends are swept
    * here too. */
  def clear(spark: SparkSession, indexDir: String, upToSeq: Long): Unit = {
    val d = dirOf(indexDir)
    val fs = fsOf(spark, d)
    val root = new org.apache.hadoop.fs.Path(d)
    if (!fs.exists(root)) return
    val newFloor = math.max(floor(spark, indexDir), upToSeq)
    graft.sources.Sources.atomicReplace(fs, new java.net.URI(d),
      spark.sparkContext.hadoopConfiguration, root, FloorName,
      graft.sources.Sources.numberFileText(newFloor),
      java.util.UUID.randomUUID().toString.take(8))
    segments(spark, indexDir).collect { case (s, p) if s <= upToSeq => p }
      .foreach(p => fs.delete(p, true))
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".tmp-"))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Drop dead rows: `rows` must carry `_seq`; a row survives iff no
    * tombstone for its key has `_ts_seq > _seq`. The tombstone set is
    * delta-scale, so the kill join broadcasts. */
  def filterLive(spark: SparkSession, indexDir: String, rows: DataFrame,
      keyCol: String): DataFrame =
    read(spark, indexDir) match {
      case None => rows
      case Some(t) =>
        val kills = t.groupBy(keyCol).agg(max(col("_ts_seq")).as("_ts_max"))
        rows.join(broadcast(kills), Seq(keyCol), "left")
          .filter(col("_ts_max").isNull || col("_seq") >= col("_ts_max"))
          .drop("_ts_max")
    }
}
