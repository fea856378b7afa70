package graft.operators

import org.apache.spark.sql.SparkSession

import graft.sources.Sources

/** Full rebuilds of a persisted index — the retrain/rebuild half of the
  * index-maintenance story — as snapshot versions of the index root.
  *
  * Incremental maintenance ([[SimilaritySearch.applyIvfPqIndexChanges]],
  * [[LexicalIndex.applyBm25IndexChanges]]) keeps an index trailing its
  * corpus at delta cost, but some changes can only be a full rebuild:
  * retraining drifted IVF-PQ quantizers, re-bucketing BM25 postings, a
  * retention purge that must drop rows from every partition. Rebuilding
  * IN PLACE (overwrite the live dirs) tears the index under concurrent
  * readers — a searcher that has read the new codes against the old
  * codebooks computes garbage distances, silently.
  *
  * So a rebuild is a snapshot publish of the index root
  * ([[Sources.commitSnapshot]]): the full index layout (codes +
  * quantizers + stats + its own fresh tombstone log) is built complete
  * and cold in `<dir>/v-<n>-<uid>/`, then one `commit-<n>` claim makes
  * it live. Every reader and every maintenance entry point resolves the
  * root with [[Sources.resolveSnapshot]], so a reader mid-search keeps
  * the version it resolved, the next resolve gets the new one, and
  * incremental maintenance continues against whichever version it
  * resolved. A root with no claim is its own plain layout (what an
  * initial build writes), version 0. Retention is the snapshot prune:
  * the live version and the two below it stay.
  *
  * Writer discipline: a rebuild writes only its own version dir, so it
  * may overlap live SEARCHES freely, and two rebuilds that race commit
  * one and refuse the other (`ConcurrentModificationException`). A
  * rebuild must not overlap incremental APPLIES of the outgoing version
  * — their updates survive in the old dir but are not in the rebuild
  * input (the documented lost-update of rebuilding from a moving
  * corpus); quiesce the applier across the cutover, as a checkpointed
  * change-feed consumer naturally does between micro-batches. */
private[graft] object IndexGenerations {

  /** Root-level table dirs a plain index layout may hold — the union of
    * the IVF-PQ and BM25 layouts plus the tombstone log. */
  private val PlainLayoutDirs = Seq(
    "codes", "centroids", "codebooks", "drift", // IVF-PQ
    "postings", "forward", "doclen", "stats", "meta", // BM25
    "tombstones")

  /** The version a committed version dir `v-<n>-<uid>` holds. */
  private def versionOf(vdir: String): Long =
    new org.apache.hadoop.fs.Path(vdir).getName.stripPrefix("v-").takeWhile(_.isDigit).toLong

  /** Commit a full rebuild of the index at `dir` (its root, never a
    * version dir a resolve returned): `write` builds the whole layout
    * into the path it is given, then one claim commits it. Returns the
    * committed version dir. The plain layout is version 0, so its
    * root-level table dirs go at the commit of version 3, which moves it
    * out of the retention window. */
  def rebuild(spark: SparkSession, dir: String)(write: String => Unit): String = {
    require(!new org.apache.hadoop.fs.Path(dir).getName.matches("v-\\d+-.+"),
      s"$dir is itself an index version dir — rebuild against the index root " +
        "(the dir holding the commit claims), not the version it resolves to")
    val live = Sources.commitSnapshot(spark, dir, None)(write)
    if (versionOf(live) >= 3) {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      PlainLayoutDirs.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(root, d), true))
    }
    live
  }
}
