package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.types.TableConfig

/** A PERSISTED BM25 inverted index, incrementally maintained by the
  * row-level change feed — the lexical twin of
  * [[SimilaritySearch.applyIvfPqIndexChanges]]. The reference
  * recomputes retrieval statistics from the corpus per run (cf.
  * ibdgc/idhub report generators re-deriving counts per request); at
  * 100 TB the lexical index must be a table you maintain, not a scan
  * you repeat: a query touches the postings of ITS terms, and an
  * ingest batch touches the postings of ITS documents — never the
  * corpus.
  *
  * Layout under the committed version dir of `dir` (every build is a
  * snapshot version of the index root, [[IndexMaintenance.commitBuild]];
  * every table is plain parquet under the engine's claimed commits):
  *  - `postings/` — (term, doc_id, tf, dl), hash-partitioned by
  *    `_b = pmod(xxhash64(term), nBuckets)`: the inverted file. A
  *    search reads only its query terms' buckets (static partition
  *    pruning); `dl` rides denormalized so scoring needs no
  *    doc-length join.
  *  - `forward/` — (doc_id, term), hash-partitioned by doc id: the
  *    transpose, which is what makes RETRACTION scale — an updated or
  *    deleted document's old terms are found by a bloom/bulk keyed
  *    read of its forward rows, never by scanning the inverted file.
  *    (Lucene keeps the same pair: inverted index + per-doc term
  *    vectors.)
  *  - `doclen/` — (doc_id, dl), hash-partitioned by doc id: corpus
  *    membership, including zero-token documents that have no
  *    postings at all — so delete/update accounting can never miss
  *    them.
  *  - `stats/` — one snapshot-published row (n_docs, tot) maintained
  *    by pure delta arithmetic; `meta/` — (n_buckets).
  *
  * Maintenance ([[applyBm25IndexChanges]]) is delete-first: the
  * changed documents' old postings/forward/doclen rows are retracted
  * via row-level DELETE publishes, then `new`/`updated` payloads are
  * re-tokenized and merge-published. Each publish is one atomic
  * claim; re-applying a feed is idempotent. With a fixed
  * tokenizer the index content is a pure per-document function of the
  * corpus, so incremental ≡ rebuild bit-for-bit
  * (IncrementalBm25Spec), and the DuckDB gate replays the search from
  * the post-change corpus directly. */
object LexicalIndex {

  final case class Bm25Maintenance(
      removedPostings: Long, addedPostings: Long, docsTouched: Long)

  /** (table, partitionCol) of the index's data tables — the shape the
    * health/maintenance machinery works over. */
  private val Bm25Tables =
    Seq("postings" -> "_b", "forward" -> "_db", "doclen" -> "_db")

  /** The automated compaction trigger (VERDICT r14 #2): compact when
    * the index is past `policy`'s generation/tombstone thresholds,
    * no-op otherwise. Returns (pre-maintenance health, compacted?). */
  def maintainBm25IfNeeded(spark: SparkSession, dir: String,
      policy: IndexMaintenance.MaintenancePolicy =
        IndexMaintenance.MaintenancePolicy()):
      (IndexMaintenance.IndexHealth, Boolean) = {
    val live = Sources.resolveSnapshot(spark, dir)
    IndexMaintenance.maintainIfNeeded(spark, live, Bm25Tables, policy)(
      compactBm25Index(spark, live))
  }

  private val postingsCfg = TableConfig("bm25_postings", Seq("term", "doc_id"), Seq.empty)
  private val forwardCfg  = TableConfig("bm25_forward", Seq("doc_id", "term"), Seq.empty)
  private val doclenCfg   = TableConfig("bm25_doclen", Seq("doc_id"), Seq.empty)

  private def termBucket(nBuckets: Int) =
    pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
  private def docBucket(nBuckets: Int) =
    pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).cast("int")

  /** (doc_id, dl, term, tf) rows of a document frame — one row per
    * distinct (doc, term); zero-token documents contribute none. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).cast("long").as("dl"),
        explode(col("_toks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

  private def doclenOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))

  /** Build the index from a corpus as the next version of the index
    * root `dir` ([[IndexMaintenance.commitBuild]]): the initial build is
    * version 1, and a full rebuild — re-bucketing (`nBuckets` sized for
    * a grown corpus), analyzer changes, or a retention purge that must
    * drop documents from every bucket (pass the purged corpus) — is the
    * same call. The new index is built complete and cold in a version
    * dir, then one claim commits it: in-place overwrite would tear
    * concurrent searches between old postings and new stats. Readers
    * mid-search keep the old version (retained until two later builds
    * have committed); applies, searches and compactions resolve the new
    * one. Quiesce the incremental applier across a rebuild — an
    * in-flight delta survives only in the outgoing version. Returns the
    * committed version dir. */
  def writeBm25Index(docs: DataFrame, dir: String, idCol: String = "doc_id",
      textCol: String = "text", nBuckets: Int = 32): String = {
    require(nBuckets >= 1 && nBuckets <= Sources.MaxTouchedPartitions,
      s"nBuckets must be in [1, ${Sources.MaxTouchedPartitions}]")
    IndexMaintenance.commitBuild(docs.sparkSession, dir)(
      writeBm25Layout(docs, _, idCol, textCol, nBuckets))
  }

  /** The index layout [[writeBm25Index]] commits, written into `dir`.
    * One tokenize pass feeds all three tables, each committed by its
    * first append; stats is the same one-row aggregate
    * [[TextAnalysis.bm25]] computes per run, persisted once instead. */
  private[operators] def writeBm25Layout(docs: DataFrame, dir: String, idCol: String,
      textCol: String, nBuckets: Int): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // `_seq = 0` is the LSM write-generation stamp (see LsmTombstones)
    val post = postingsOf(docs, idCol, textCol).withColumn("_seq", lit(0L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Sources.publishMergeAppend(spark, s"$dir/postings",
      post.withColumn("_b", termBucket(nBuckets)), "_b")
    Sources.publishMergeAppend(spark, s"$dir/forward",
      post.select("doc_id", "term", "_seq").withColumn("_db", docBucket(nBuckets)), "_db")
    post.unpersist(): Unit
    Sources.publishMergeAppend(spark, s"$dir/doclen", doclenOf(docs, idCol, textCol)
      .withColumn("_seq", lit(0L)).withColumn("_db", docBucket(nBuckets)), "_db")
    // doclen key-bloom sidecars at BUILD time (r19): the first
    // append-apply's oldLen keyed read otherwise scans every doclen
    // bucket AND pays the base dir's bloom build inside ITS wall (a
    // corpus-proportional 3.3 s at sf10 for a 500-doc delta — measured,
    // BenchScale x_bm25_*). Built here the pass rides the build
    // (which already scanned the corpus), every apply is
    // delta-proportional from apply #1, and indexBatchKeys stays
    // idempotent for the per-apply new-dir sidecars.
    Sources.indexBatchKeys(spark, s"$dir/doclen", "doc_id",
      fpp = Sources.BatchLookupFpp): Unit
    Sources.publishSnapshot(
      docs.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L))
          .as("tot")),
      s"$dir/stats")
    Sources.publishSnapshot(
      Seq(nBuckets).toDF("n_buckets").coalesce(1), s"$dir/meta")
  }

  private def readNBuckets(spark: SparkSession, dir: String): Int =
    Sources.readSnapshot(spark, s"$dir/meta").first().getAs[Int]("n_buckets")

  /** Apply a `new`/`updated`/`orphaned` change feed. `changes` must
    * carry `idCol` and `changeCol`; `new`/`updated` rows also
    * `textCol`.
    *
    * Two modes, picked by delta shape (both measured — SCALING.md
    * round 14):
    *  - `"rewrite"` (default): delete-first retraction + upsert —
    *    touched buckets are REWRITTEN and the tables are always
    *    compact / bit-exact vs a rebuild. But a document batch's
    *    terms hash into essentially EVERY bucket, so a rewrite apply
    *    at full fanout costs a table rebuild (measured 0.95× rebuild
    *    at sf1) — right only for low-fanout deltas.
    *  - `"append"`: log-structured — changed doc ids are tombstoned
    *    at the next write generation and the re-tokenized rows
    *    APPENDED ([[graft.sources.Sources.publishMergeAppend]]); the
    *    only read is the doc-bucket-pruned doclen lookup that feeds
    *    the stats delta. Cost = the delta. Reads stay correct through
    *    the broadcast tombstone kill; [[compactBm25Index]] folds the
    *    log back to the bit-exact rebuild state. In this mode
    *    `removedPostings` reports tombstoned doc ids (the retraction
    *    intent), not located posting rows. */
  def applyBm25IndexChanges(spark: SparkSession, indexDir: String, changes: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      changeCol: String = "_change", mode: String = "rewrite"): Bm25Maintenance = {
    // resolve the live version first: after a rebuild
    // ([[writeBm25Index]]) maintenance continues against the NEW
    // bucketing/tombstone log transparently
    val dir = Sources.resolveSnapshot(spark, indexDir)
    require(mode == "rewrite" || mode == "append",
      s"applyBm25IndexChanges: unknown mode '$mode' (rewrite|append)")
    // ONE materialization of the caller's feed (r19, guide §2.4): the
    // apply evaluates `changes` for kind validation, the id set, the
    // doclen delta and the postings build — a feed derived from a
    // corpus scan (the ledger fixture; any CDC consumer whose delta
    // embeds lineage) re-ran that scan per evaluation (~1 s × 5 at
    // sf10, half the apply wall). Delta-sized state, lazy: the kinds
    // collect below materializes it, every later pass reuses blocks.
    val feed = changes.localCheckpoint(false)
    val kinds = feed.select(changeCol).distinct().collect().map(_.getString(0)).toSet
    val unknown = kinds -- Set("new", "updated", "orphaned")
    require(unknown.isEmpty,
      s"applyBm25IndexChanges: unknown $changeCol value(s) ${unknown.mkString(", ")} " +
        "(expected new/updated/orphaned)")
    val nBuckets = readNBuckets(spark, dir)

    val ids = feed.select(col(idCol).as("doc_id")).distinct()
    val adds = feed.filter(col(changeCol).isin("new", "updated"))

    def publishStats(docsRemoved: Long, dlRemoved: Long,
        docsAdded: Long, dlAdded: Long): Unit = {
      // delta arithmetic over exact longs — the maintained row always
      // equals a doclen re-aggregation (IncrementalBm25Spec pins it)
      val st = Sources.readSnapshot(spark, s"$dir/stats").first()
      val stats = Seq((st.getLong(0) - docsRemoved + docsAdded,
        st.getLong(1) - dlRemoved + dlAdded))
      import spark.implicits._
      Sources.publishSnapshot(stats.toDF("n_docs", "tot").coalesce(1), s"$dir/stats")
    }

    def addAgg(addLen: DataFrame): (Long, Long) = {
      val r = addLen.agg(count(lit(1)).cast("long"),
        coalesce(sum(col("dl")), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    if (mode == "append") {
      val n = LsmTombstones.nextSeq(spark, dir)
      // the ONE read this mode keeps: live doclen rows of the changed
      // ids (doc-bucket pruned point lookups) — the stats delta needs
      // the outgoing lengths and membership, nothing else does
      val oldLen = LsmTombstones.filterLive(spark, dir,
          Sources.readMergePartitionedKeyedFrame(
            spark, s"$dir/doclen", "_db", "doc_id", ids),
          "doc_id")
        .select("doc_id", "dl").localCheckpoint(false)
      val (docsRemoved, dlRemoved) = addAgg(oldLen)
      LsmTombstones.append(spark, dir, ids, "doc_id", n)
      val addLen = doclenOf(adds, idCol, textCol).localCheckpoint(false)
      val (docsAdded, dlAdded) = addAgg(addLen)
      var addedPostings = 0L
      if (docsAdded > 0) {
        val post = postingsOf(adds, idCol, textCol).withColumn("_seq", lit(n))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        addedPostings = post.count()
        // the three table appends are INDEPENDENT publishes into
        // disjoint dirs under this apply's already-durable tombstone
        // wave, so they overlap on the family pool (r19, guide §2.6 —
        // same shape as publishSnapshotGroup): each is internally
        // atomic, and a crash that lands only some of them is exactly
        // the replay case the tombstone discipline already absorbs
        // (re-apply re-tombstones the same ids at the next seq and
        // re-appends identical rows — single live copy either way).
        val appends: Seq[(String, () => Unit)] =
          (if (addedPostings > 0) Seq(
            "postings" -> (() => Sources.publishMergeAppend(spark, s"$dir/postings",
              post.withColumn("_b", termBucket(nBuckets)), "_b")),
            "forward" -> (() => Sources.publishMergeAppend(spark, s"$dir/forward",
              post.select("doc_id", "term", "_seq")
                .withColumn("_db", docBucket(nBuckets)), "_db")))
          else Seq.empty) :+
          ("doclen" -> (() => Sources.publishMergeAppend(spark, s"$dir/doclen",
            addLen.withColumn("_seq", lit(n)).withColumn("_db", docBucket(nBuckets)),
            "_db")))
        IndexMaintenance.inParallel(appends)(_._2()): Unit
        post.unpersist(): Unit
        // bloom sidecars on doclen's unindexed dirs (idempotent): the
        // next apply's oldLen keyed read then DIR-SKIPS the base and
        // every generation that can't hold the looked-up ids
        // (VERDICT r14 #3). Doclen ONLY: it is the one table an
        // append apply keyed-reads, and it's 1 row/doc — the first
        // apply's base-dir build is cheap. Forward sidecars are NOT
        // built here: forward is postings-sized (a measured 20 s
        // first-apply bill at sf10) and only rewrite mode keyed-reads
        // it, which is forbidden until compaction — whose fold builds
        // the forward sidecars itself. Off the read path entirely.
        Sources.indexBatchKeys(spark, s"$dir/doclen", "doc_id", fpp = Sources.BatchLookupFpp): Unit
      }
      publishStats(docsRemoved, dlRemoved, docsAdded, dlAdded)
      // listing-only degradation check: loud when nobody is running
      // the compaction trigger (see IndexMaintenance)
      IndexMaintenance.warnIfDegraded(spark, dir, Bm25Tables,
        IndexMaintenance.MaintenancePolicy())
      val removed = ids.count()
      Bm25Maintenance(removed, addedPostings, docsRemoved.max(docsAdded))
    } else {
      require(LsmTombstones.isEmpty(spark, dir),
        "applyBm25IndexChanges(mode=rewrite): index has live tombstones from " +
          "append-mode maintenance — run compactBm25Index first (a rewrite " +
          "against raw appended content would resurrect dead rows)")
      // the transpose answers "which postings does this doc own" without
      // touching the inverted file; doclen answers membership + length
      // even for zero-token docs
      val oldFwd = Sources.readMergePartitionedKeyedFrame(
          spark, s"$dir/forward", "_db", "doc_id", ids)
        .select("doc_id", "term")
        .localCheckpoint(false) // pin: the publishes below swap manifests under it
      val oldLen = Sources.readMergePartitionedKeyedFrame(
          spark, s"$dir/doclen", "_db", "doc_id", ids)
        .select("doc_id", "dl")
        .localCheckpoint(false)
      val (docsRemoved, dlRemoved) = addAgg(oldLen)
      val removed = Sources.publishMergeDeletes(spark, s"$dir/postings",
        oldFwd.withColumn("_b", termBucket(nBuckets)), postingsCfg, "_b")
      Sources.publishMergeDeletes(spark, s"$dir/forward",
        oldFwd.withColumn("_db", docBucket(nBuckets)), forwardCfg, "_db"): Unit
      Sources.publishMergeDeletes(spark, s"$dir/doclen",
        oldLen.withColumn("_db", docBucket(nBuckets)), doclenCfg, "_db"): Unit

      val addLen = doclenOf(adds, idCol, textCol).localCheckpoint(false)
      val (docsAdded, dlAdded) = addAgg(addLen)
      var addedPostings = 0L
      if (docsAdded > 0) {
        val post = postingsOf(adds, idCol, textCol).withColumn("_seq", lit(0L))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        addedPostings = post.count()
        if (addedPostings > 0) {
          Sources.publishMergePartitioned(spark, s"$dir/postings",
            post.withColumn("_b", termBucket(nBuckets)), postingsCfg, "_b"): Unit
          Sources.publishMergePartitioned(spark, s"$dir/forward",
            post.select("doc_id", "term", "_seq").withColumn("_db", docBucket(nBuckets)),
            forwardCfg, "_db"): Unit
        }
        post.unpersist(): Unit
        Sources.publishMergePartitioned(spark, s"$dir/doclen",
          addLen.withColumn("_seq", lit(0L)).withColumn("_db", docBucket(nBuckets)),
          doclenCfg, "_db"): Unit
      }
      publishStats(docsRemoved, dlRemoved, docsAdded, dlAdded)
      Bm25Maintenance(removed, addedPostings, docsRemoved.max(docsAdded))
    }
  }

  /** Maintain the index FROM A STREAM (VERDICT r14 #4 — where the
    * streaming and LSM stories meet): every micro-batch of the change
    * feed is one append-mode [[applyBm25IndexChanges]], under a real
    * checkpointed StreamingQuery. At 100 TB this is the production
    * shape — the corpus change feed arrives continuously and the
    * lexical index trails it by one micro-batch, with compaction on
    * the [[maintainBm25IfNeeded]] trigger.
    *
    * Exactly-once composition: the checkpoint makes batch REPLAY the
    * failure mode (a crash between an apply and the commit re-runs
    * that batch), and an append-mode re-apply of the same batch is
    * logically idempotent through the tombstone discipline — the
    * replay tombstones the same ids at the next generation and
    * re-inserts identical rows, and the stats delta nets to zero
    * (retract dl, re-add the same dl). StreamingIndexSpec pins both
    * the stream ≡ batch equivalence and the redelivery no-op. The
    * stream must be the index's single logical writer (see
    * [[LsmTombstones]]), which the checkpointed query naturally is. */
  def bm25IndexSink(changes: DataFrame, dir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      changeCol: String = "_change",
      maintain: Option[IndexMaintenance.MaintenancePolicy] =
        Some(IndexMaintenance.MaintenancePolicy())):
      org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-probe (an extra Spark job per micro-batch):
        // applyBm25IndexChanges handles an empty change set — same
        // per-batch overhead contract as ivfPqIndexSink
        applyBm25IndexChanges(batch.sparkSession, dir, batch,
          idCol, textCol, changeCol, mode = "append"): Unit
        // the operational loop, closed: the stream that maintains
        // the index also runs its compaction trigger (a listing
        // probe per batch; a fold only past policy). Safe HERE
        // because the checkpointed query is the index's single
        // logical writer — the one caller who can compact without
        // racing an applier. None = operator schedules compaction
        // out of band. A quiet stream must still compact an index
        // left over threshold.
        maintain.foreach(p => maintainBm25IfNeeded(
          batch.sparkSession, dir, p): Unit)
      }
      .start()

  /** Fold an append-maintained index back to the compact, bit-exact
    * rebuild state: tombstone kills applied across postings, forward
    * and doclen, every bucket one dir, tombstones cleared (stats is
    * already exact — it is delta-maintained). The amortized price of
    * the delta-proportional applies.
    *
    * Compaction-visibility contract (ADVICE r14): folded rows are
    * stamped `_seq = ` the max CONSUMED tombstone seq, not 0, so a
    * concurrent reader between a fold publish and the tombstone clear
    * keeps every compacted row live (`_seq >= _ts_max`) — stamping 0
    * would have the still-live tombstones kill every compacted row of
    * a key that was ever updated. The clear then records that seq as
    * the floor, so future generations stay strictly above it. `_seq`
    * is maintenance bookkeeping — only its ORDER against tombstone
    * seqs matters, never its absolute value. Residual window, the
    * mirror direction: a reader that resolved the PRE-fold manifest
    * and lists tombstones only after the clear can transiently
    * resurrect dead rows of that superseded state — the same
    * one-publish freshness family as the apply window; readers
    * resolve tombstones together with the manifest (as
    * [[searchBm25Index]] does), and compaction requires exclusive
    * maintenance (no concurrent appliers — see [[LsmTombstones]]). */
  def compactBm25Index(spark: SparkSession, indexDir: String): Unit = {
    val dir = Sources.resolveSnapshot(spark, indexDir)
    if (!LsmTombstones.exists(spark, dir)) return
    val foldSeq = LsmTombstones.maxLiveSeq(spark, dir)
    def fold(table: String, partCol: String): Unit = {
      // transactional fold (r16): pin the read basis BEFORE reading, so
      // an apply that lands between this read and the replace publish
      // REFUSES the compaction (ConcurrentModificationException - retry
      // the fold) instead of being silently folded away
      val basis = Sources.mergeCommittedVersion(spark, s"$dir/$table")
      val raw = Sources.readMergePartitioned(spark, s"$dir/$table", partCol)
      val live = LsmTombstones.filterLive(spark, dir, raw, "doc_id")
        .withColumn("_seq", lit(foldSeq))
        .localCheckpoint(false) // pin: the replace publish prunes dirs under it
      val parts = raw.select(partCol).distinct().collect().map(_.get(0)).toSeq
      require(live.limit(1).count() > 0,
        s"compactBm25Index: every $table row is tombstoned — rebuild instead")
      Sources.publishMergeReplace(spark, s"$dir/$table", live, partCol, parts,
        basisVersion = if (basis > 0) Some(basis) else None)
    }
    // the three folds are independent read→replace pipelines over
    // DISJOINT tables (the tombstone clear below waits for all three),
    // so they overlap on the family pool (r19, guide §2.6): each
    // fold's scan/write tails back-fill the others' idle cores — the
    // serial form left the cluster at one table's parallelism per
    // phase. Failure in any fold propagates before the clear, exactly
    // like the serial order.
    IndexMaintenance.inParallel(
      Seq("postings" -> "_b", "forward" -> "_db", "doclen" -> "_db")) {
      case (t, c) => fold(t, c)
    }: Unit
    LsmTombstones.clear(spark, dir, foldSeq)
    // bloom sidecars on the freshly-folded batch dirs: the next
    // apply's keyed reads (doclen membership, forward retraction)
    // then dir-skip instead of scanning every bucket — the
    // off-critical-path index-on-the-index, riding compaction's
    // already-paid full pass
    Sources.indexBatchKeys(spark, s"$dir/doclen", "doc_id", fpp = Sources.BatchLookupFpp): Unit
    Sources.indexBatchKeys(spark, s"$dir/forward", "doc_id", fpp = Sources.BatchLookupFpp): Unit
  }

  /** LIVE logical state of the postings table — index version
    * resolved, tombstone kills applied: `(doc_id, dl, term, tf, _b)`.
    * This is the SQL read surface ([[graft.GraftSql.registerBm25Index]]
    * registers it as a view so any lexical scoring is expressible in
    * pure SQL over the index, never rescanning the corpus). The term
    * filter should ride the SQL (`WHERE term IN (...)`); bucket-static
    * pruning stays on the [[searchBm25Index]] path, which plants the
    * `_b` literals the view cannot know. */
  def bm25PostingsLive(spark: SparkSession, indexDir: String): DataFrame = {
    val dir = Sources.resolveSnapshot(spark, indexDir)
    LsmTombstones.filterLive(spark, dir,
      Sources.readMergePartitioned(spark, s"$dir/postings", "_b"), "doc_id")
      .select("doc_id", "dl", "term", "tf", "_b")
  }

  /** The index's delta-maintained corpus stats `(n_docs, tot)`,
    * generation-resolved — one snapshot row. */
  def bm25StatsLive(spark: SparkSession, indexDir: String): DataFrame =
    Sources.readSnapshot(spark,
      s"${Sources.resolveSnapshot(spark, indexDir)}/stats")

  /** BM25 top-k over the persisted index: the query terms' buckets
    * are the ONLY postings partitions read (static pruning via the
    * manifest branches), stats is one snapshot row — query cost is
    * posting-list-shaped, corpus-size-independent. Ranking runs
    * through the same [[TextAnalysis.bm25Rank]] core as the
    * corpus-scan path, so the two are arithmetically identical. */
  def searchBm25Index(spark: SparkSession, indexDir: String, queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val dir = Sources.resolveSnapshot(spark, indexDir)
    // liveTf: term-bucket pruned, tombstone-filtered (the kill join is
    // delta-scale and broadcasts; a clean index skips it entirely)
    val tf = liveTf(spark, indexDir, queryTerms)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = Sources.readSnapshot(spark, s"$dir/stats")
    TextAnalysis.bm25Rank(tf, dfreq, stats, k, k1, b)
  }

  // ───────────── per-filter-partition indexes (round 16) ─────────────

  private def partSeg(filterCol: String, v: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    require(v != null, "partitioned index: null filter value — route null " +
      "rows to an explicit sentinel value first")
    val s = String.valueOf(v)
    require(s.nonEmpty && ExternalCatalogUtils.escapePathName(s) == s,
      s"partitioned index: filter value '$s' does not round-trip Spark's " +
        "partition-path encoding — use a path-safe filter value")
    s"$filterCol=$s"
  }

  /** PERCENT-SCALE filtered lexical search — the BM25 twin of
    * [[SimilaritySearch.writePartitionedIvfPqIndex]]: one full
    * standalone BM25 index per value of a low-cardinality filter
    * column (language, source, license class), so "search within
    * these slices" becomes pure ROUTING with no materialized id set.
    *
    * Unlike the vector family there is no trained state to share —
    * what makes multi-partition search EXACT is that every BM25
    * corpus statistic is a SUM over partitions: tf and dl are per-doc
    * (partition-independent), df_t = Σ_p df_{t,p}, n_docs and total
    * tokens add. [[searchPartitionedBm25Index]] therefore unions the
    * selected partitions' live tf rows (each read term-bucket-pruned
    * from its own index), re-derives df from the union and sums the
    * per-partition stats rows — bit-identical to one index built over
    * the filtered corpus (IncrementalBm25Spec pins it). Each partition
    * dir is a full index root: tombstones, compaction, maintenance,
    * generations and rebuilds all work per partition unchanged.
    * Returns the partition segments written. */
  def writePartitionedBm25Index(docs: DataFrame, rootDir: String,
      filterCol: String, idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 32): Seq[String] = {
    val values = docs.select(col(filterCol)).distinct()
      .limit(SimilaritySearch.MaxIndexPartitions + 1).collect().map(_.get(0))
    require(values.length <= SimilaritySearch.MaxIndexPartitions,
      s"writePartitionedBm25Index: > ${SimilaritySearch.MaxIndexPartitions} " +
        s"distinct '$filterCol' values — not a routing column")
    // disjoint per-partition builds → family pool (VERDICT r16 #5)
    IndexMaintenance.inParallel(values.toSeq) { v =>
      val seg = partSeg(filterCol, v)
      writeBm25Index(docs.filter(col(filterCol) === lit(v)),
        s"$rootDir/$seg", idCol, textCol, nBuckets): Unit
      seg
    }
  }

  /** Route a document change feed to the partition indexes it touches
    * (one [[applyBm25IndexChanges]] per distinct filter value in the
    * delta). Rows must carry their CURRENT partition value; a doc
    * whose filter value changed is two feed entries — `orphaned`
    * under the old value, `new` under the new. */
  def applyPartitionedBm25IndexChanges(spark: SparkSession, rootDir: String,
      filterCol: String, changes: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", changeCol: String = "_change",
      mode: String = "rewrite"): Map[String, Bm25Maintenance] = {
    val values = changes.select(col(filterCol)).distinct()
      .limit(SimilaritySearch.MaxIndexPartitions + 1).collect().map(_.get(0))
    require(values.length <= SimilaritySearch.MaxIndexPartitions,
      s"applyPartitionedBm25IndexChanges: > " +
        s"${SimilaritySearch.MaxIndexPartitions} distinct '$filterCol' values")
    // each branch applies to its own disjoint partition-index dir —
    // bounded family pool, not a serial driver loop (VERDICT r16 #5)
    IndexMaintenance.inParallel(values.toSeq) { v =>
      val seg = partSeg(filterCol, v)
      seg -> applyBm25IndexChanges(spark, s"$rootDir/$seg",
        changes.filter(col(filterCol) === lit(v)), idCol, textCol, changeCol,
        mode)
    }.toMap
  }

  /** Live tf rows `(doc_id, dl, term, tf)` of ONE index for the given
    * terms — term-bucket pruned, generation-resolved, tombstone-
    * filtered. The per-partition read [[searchPartitionedBm25Index]]
    * unions; also the core of [[searchBm25Index]]. */
  private def liveTf(spark: SparkSession, indexDir: String,
      queryTerms: Seq[String]): DataFrame = {
    val dir = Sources.resolveSnapshot(spark, indexDir)
    val nBuckets = readNBuckets(spark, dir)
    import spark.implicits._
    val buckets = queryTerms.toDF("term")
      .select(termBucket(nBuckets)).distinct().collect().map(_.getInt(0)).toSeq
    LsmTombstones.filterLive(spark, dir,
        Sources.readMergePartitioned(spark, s"$dir/postings", "_b")
          .filter(col("_b").isin(buckets: _*) && col("term").isin(queryTerms: _*)),
        "doc_id")
      .select("doc_id", "dl", "term", "tf")
  }

  /** BM25 top-k over the UNION of the partitions named by
    * `filterValues` — exactly the score one index over the filtered
    * corpus would produce (see [[writePartitionedBm25Index]]): tf rows
    * union, df re-derived from the union, stats summed, and the SAME
    * [[TextAnalysis.bm25Rank]] core ranks. A value with no partition
    * dir fails loudly. */
  def searchPartitionedBm25Index(spark: SparkSession, rootDir: String,
      filterCol: String, filterValues: Seq[Any], queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    require(filterValues.nonEmpty, "searchPartitionedBm25Index: empty filter")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rootDir), spark.sparkContext.hadoopConfiguration)
    val dirs = filterValues.map { v =>
      val seg = partSeg(filterCol, v)
      val d = s"$rootDir/$seg"
      require(fs.exists(new org.apache.hadoop.fs.Path(d)),
        s"searchPartitionedBm25Index: no index partition at $d — unknown " +
          s"'$filterCol' value '$v'")
      d
    }
    val tf = dirs.map(liveTf(spark, _, queryTerms)).reduce(_ unionByName _)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dirs.map(d => Sources.readSnapshot(spark,
        s"${Sources.resolveSnapshot(spark, d)}/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("tot")).cast("long").as("tot"))
    TextAnalysis.bm25Rank(tf, dfreq, stats, k, k1, b)
  }
}
