package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

/** Sources & sinks (SURVEY.md §2.1 S1-S12).
  *
  * The reference moves data as CSV/JSON "fragments" between S3, REST
  * services and Postgres. Spark-side these all collapse to reader/
  * writer configs: `s3a://`, `file://` and `hdfs://` URIs go through
  * the same code path, so the S3 operators are the same calls with a
  * different scheme. JDBC covers the Postgres/LabKey scans with
  * predicate pushdown (Catalyst pushes filters into the WHERE clause).
  */
object Sources {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Upper bound on distinct partition values a single
    * [[publishMergeDeletes]] may touch. Touched-partition values are the
    * one driver-side collect in the merge-table metadata path; a delete
    * frame touching more partitions than this is a table rewrite
    * mis-spelled as a targeted delete (or the key column passed as the
    * partition column) and is refused loudly instead of materializing a
    * data-proportional set on the driver. */
  val MaxTouchedPartitions: Int = 10000

  /** S1/S2: CSV fragment scan (header row, reference null tokens
    * preserved as raw strings for the coercion layer to normalize). */
  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true").option("mode", "PERMISSIVE")
    schema.fold(r.option("inferSchema", "false"))(r.schema).csv(path)
  }

  /** S3 (operator): line-delimited JSON scan — the format
    * [[writePartitionedJson]] produces (one record per line, the
    * splittable-at-scale layout; `multiLine` documents are not). */
  def readJsonLines(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** S7/S6: JDBC table scan with pushdown. `table` may be a table name
    * or a `(SELECT …) alias` subquery — how the reference's keyed
    * lookups (S8) express server-side. */
  def readJdbc(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty): DataFrame = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    spark.read.option("pushDownPredicate", "true").jdbc(url, table, p)
  }

  /** S9/S11: bulk CSV sink. */
  def writeCsv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** S12: per-entity JSON documents, one directory partition per key
    * (`subjects/{gsid}/…` layout). */
  def writePartitionedJson(df: DataFrame, path: String, keyCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(keyCol).json(path)

  /** Partition-pruned MERGE publish, ATOMIC for readers — the 100 TB
    * path the whole-snapshot swap below cannot offer. Only the
    * partitions the incoming batch touches are read (Catalyst
    * partition-pruned scan over the manifest's live dirs) and
    * rewritten; a batch touching 3 of 10,000 date partitions reads and
    * writes 3. The natural key must functionally determine the
    * partition column (true for the reference's per-center / per-batch
    * layouts), otherwise a key could escape its old partition and
    * survive as a duplicate.
    *
    * Layout (the Iceberg/Delta idea reduced to plain parquet + one
    * claim per commit): data lives in IMMUTABLE batch dirs
    * `tableDir/b-<n>-<uid>/<col>=<val>/…parquet` (one `partitionBy`
    * write per publish, numbered after the commit its publish read,
    * never rewritten in place); a MANIFEST file
    * `tableDir/manifest-<n>` states its format version, records the
    * schema each batch dir reads under (partition column typed as
    * written, so no read infers a type from a directory name) and lists
    * the live dir of every partition (one relative path per line; see
    * [[Manifest]]); the table's state is the manifest its highest
    * `commit-<n>` claim names, and the claim, taken after the manifest
    * is written, is the whole commit. A reader ([[readMergePartitioned]])
    * resolves the highest claim once and then scans a frozen,
    * fully-written set of dirs — it can never observe a partition
    * mid-rewrite or a mix of old and new partitions, the two windows the
    * previous in-place dynamic-partition-overwrite left open. Retention
    * is anchored to the highest claim (see [[pruneMergePartitioned]]):
    * the two manifests below it keep their dirs, so a reader lagging up
    * to two publishes keeps its files.
    *
    * Concurrent publishers serialize through the optimistic commit
    * protocol ([[claimMergeManifest]], round 16): each publish claims
    * its manifest number with an atomic put-if-absent marker; a loser
    * REBASES when the winner's partitions are disjoint from the ones
    * it read, and REFUSES with `ConcurrentModificationException` when
    * they overlap (its merged content derives from a stale read) — a
    * batch is never silently lost (the pre-r16 contract degraded
    * overlapping publishers to exactly that whole lost update).
    *
    * A table is committed by its first publish: an absent or empty
    * root takes it. A root that holds `<col>=<val>` dirs but no claim
    * (a plain partitioned write of an earlier build) is refused, naming
    * it, by every publish and read ([[claimNumbers]]): a first commit
    * over it would publish a manifest that omits those rows.
    *
    * A micro-batch runs on the driver, with no job but one bounded
    * collect of `incoming` (`DriverPath.batchRows`), when the batch is
    * at most `DriverPath.DriverBatchRows` rows, the touched partitions'
    * live files (from the listing the read plans over) are at most
    * `DriverPath.DriverMergeBytes`, each batch dir's partition type as
    * the manifest records it is the incoming column's (and not a float
    * or double), and
    * [[graft.operators.UpsertWriter.coversOnDriver]] accepts the key
    * and compared column types: those files are read with Spark's own
    * parquet reader (`Bridge.readLocalParquet`), merged in Scala
    * ([[graft.operators.UpsertWriter.mergedOnDriver]]) and written one
    * file per partition (`Bridge.writeLocalParquetPartitioned`), then
    * committed through the same claim. Above any bound the distributed
    * merge and rebalanced write below run unchanged. Both paths return
    * the same rows under the same schema.
    *
    * Returns the merged frame for the touched partitions (post-merge
    * state), mirroring [[graft.operators.UpsertWriter.merge]]. */
  def publishMergePartitioned(
      spark: SparkSession,
      tableDir: String,
      incoming: DataFrame,
      cfg: graft.types.TableConfig,
      partitionCol: String): DataFrame =
    publishMergePartitioned(spark, tableDir, incoming, cfg, partitionCol, mayUseDriver = true)

  /** [[publishMergePartitioned]], with the driver path off when
    * `mayUseDriver` is false: the distributed path the driver path
    * must agree with. */
  private[sources] def publishMergePartitioned(spark: SparkSession, tableDir: String,
      incoming: DataFrame, cfg: graft.types.TableConfig, partitionCol: String,
      mayUseDriver: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.operators.{DriverPath, UpsertWriter}
    val pType = incoming.schema(partitionCol).dataType
    commitMergeBatch(spark, tableDir, partitionCol) { basis =>
      val groups = manifestGroups(basis.entries).map(readManifestGroup(spark, tableDir, basis, _))
      // pruned scan of the touched partitions. Null and "" are both
      // written to the default partition, which reads back as null: a
      // batch holding either rewrites that segment, so its current rows
      // must enter the merge (an `isin` never matches a null)
      def current(touched: Seq[Any]): DataFrame =
        groups.reduceOption(_ unionByName _)
          .map { all =>
            val p = col(partitionCol)
            all.filter(if (touchesDefault(touched)) p.isin(touched: _*) || p.isNull
                       else p.isin(touched: _*))
              .withColumn(partitionCol, p.cast(pType))
          }
          .getOrElse(incoming.limit(0))
      val currentSchema = current(Nil).schema
      val batch =
        if (!mayUseDriver || !UpsertWriter.coversOnDriver(currentSchema, incoming.schema, cfg)) None
        else DriverPath.batchRows(incoming, DriverPath.DriverBatchRows).toOption
      // touched partitions: bounded by the incoming batch, never by the
      // table — a driver-side collect of partition VALUES only, probed
      // with a limit first (same guard as publishMergeDeletes) so a
      // mis-declared high-cardinality partition column refuses loudly
      // instead of funneling the driver
      val touched = batch match {
        case Some(rows) =>
          val p = incoming.schema.fieldIndex(partitionCol)
          rows.map(_.get(p)).distinct.toSeq
        case None =>
          incoming.select(partitionCol).distinct()
            .limit(MaxTouchedPartitions + 1).collect().map(_.get(0)).toSeq
      }
      require(touched.length <= MaxTouchedPartitions,
        s"publishMergePartitioned: incoming batch touches > " +
          s"$MaxTouchedPartitions distinct '$partitionCol' values — that is a " +
          "table rewrite, not a targeted merge; pick a coarser partition " +
          "column or split the publish")
      val onDriver = for {
        rows <- batch
        scans <- touchedScans(groups, partitionCol, pType, touched)
        cur <- scanOnDriver(spark, scans, DriverPath.DriverMergeBytes)
      } yield rows -> scans.zip(cur).flatMap { case (scan, rs) =>
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(scan.schema)
        rs.map(toRow(_).asInstanceOf[org.apache.spark.sql.Row])
      }
      // the merged content derives from the touched partitions' current
      // rows, so a rival commit to any written segment refuses, and the
      // written segments replace their old entries by name (they are
      // Spark's own path encoding of the touched values)
      val replaces = (written: Seq[String]) => written.toSet
      onDriver match {
        case Some((rows, curRows)) =>
          val schema = DriverPath.schemaOf(("publishMergePartitioned", currentSchema,
            incoming.schema, cfg))(UpsertWriter.merge(current(Nil), incoming, cfg).merged.schema)
          val merged = DriverPath.localFrame(spark, UpsertWriter.mergedOnDriver(
            curRows, currentSchema, rows.toSeq, incoming.schema, cfg), schema)
          Some(MergeBatch(merged.schema, dir => Some(Bridge
            .writeLocalParquetPartitioned(merged, partitionCol, dir)), replaces, _ => merged))
        case None =>
          val merged = UpsertWriter.merge(current(touched), incoming, cfg).merged
          Some(MergeBatch(merged.schema, dir => {
            writePartitionedBatch(merged, partitionCol, dir); None }, replaces, _ => merged))
      }
    }.get
  }

  /** The one driver read of parquet files: `scans`' files read on the
    * calling thread with Spark's own parquet reader
    * (`Bridge.readLocalParquet`), giving per scan its rows, as Catalyst
    * rows, under `required(scan)` followed by the scan's partition
    * values. Values decode as a distributed scan decodes them, and no
    * job runs. None, reading nothing, when the files total more than
    * `bound` bytes. A file that vanished since it was listed fails the
    * read loudly. The merge publish's read of its touched partitions,
    * the key index's read of its key column, the registry read and the
    * row-level change feed all read through here. */
  private def scanOnDriver(spark: SparkSession, scans: Seq[Bridge.LocalParquetScan],
      bound: Long, required: Bridge.LocalParquetScan => StructType = _.dataSchema)
      : Option[Seq[Seq[InternalRow]]] =
    if (scans.map(_.bytes).sum > bound) None
    else Some(scans.map(s => Bridge.readLocalParquet(spark, s, required(s)).flatten))

  /** [[scanOnDriver]] over `frames`, each one plain parquet relation (a
    * merge-table dir group as [[readManifestGroup]] reads it, a snapshot
    * member): per frame its rows under its own schema, from the listing
    * the frame made when it was built. None when a frame is not such a
    * relation or the files exceed `bound` bytes. */
  private def rowsOnDriver(spark: SparkSession, frames: Seq[DataFrame],
      bound: Long): Option[Seq[Seq[InternalRow]]] = {
    val scans = frames.map(Bridge.parquetScan)
    if (scans.forall(_.isDefined)) scanOnDriver(spark, scans.flatten, bound) else None
  }

  /** `frames` read on the driver by [[rowsOnDriver]], each handed back
    * as a local relation under its own schema built straight from its
    * rows (`DriverPath.localRelation`), in order. None when
    * [[rowsOnDriver]] declines. */
  private[graft] def readOnDriver(spark: SparkSession, frames: Seq[DataFrame],
      bound: Long): Option[Seq[DataFrame]] =
    rowsOnDriver(spark, frames, bound).map(_.zip(frames).map { case (rows, df) =>
      graft.operators.DriverPath.localRelation(spark, df.schema, rows)
    })

  /** The driver reads of the touched partitions of a merge table whose
    * batch dirs `groups` reads ([[readManifestGroup]], one frame per
    * dir): per dir, the files whose partition value is a member of
    * `touched`, and the default partition's when `touched` holds null
    * or "" — what the distributed filter keeps. None — so the publish
    * stays distributed — when a dir's frame is not one plain parquet
    * relation partitioned by `partitionCol` alone, when the dirs'
    * schemas differ (their union would widen or reorder), or when a
    * dir's partition type, as its manifest records it, is not the
    * incoming column's `pType` or is a float or double. Then Scala equality on
    * the two sides' values is Spark's equality; across types only the
    * distributed `isin` applies Spark's coercion (a long batch against
    * a dir written as int), and on doubles Spark's equality and Scala's
    * part on NaN. */
  private def touchedScans(groups: Seq[DataFrame], partitionCol: String, pType: DataType,
      touched: Seq[Any]): Option[Seq[Bridge.LocalParquetScan]] = {
    val keep = touched.filter(_ != null).toSet
    val keepDefault = touchesDefault(touched)
    val fields = groups.headOption.map(_.schema.map(f => (f.name, f.dataType)))
    val comparable = pType != FloatType && pType != DoubleType
    val scans = groups.map { g =>
      Bridge.parquetScan(g).filter(s =>
        comparable && s.partitionSchema.fieldNames.toSeq == Seq(partitionCol) &&
          s.partitionSchema(0).dataType == pType &&
          fields.contains(g.schema.map(f => (f.name, f.dataType))))
        .map { s =>
          val value = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(pType)
          s.copy(files = s.files.filter(f =>
            if (f.partition.isNullAt(0)) keepDefault
            else keep(value(f.partition.get(0, pType)))))
        }
    }
    if (scans.forall(_.isDefined)) Some(scans.flatten.filter(_.files.nonEmpty)) else None
  }

  /** Whether a merge batch's partition values `touched` include one
    * Spark writes to the default partition (null, or ""). */
  private def touchesDefault(touched: Seq[Any]): Boolean =
    touched.exists(v => v == null || v == "")

  /** Partitioned batch-dir write with §6 file sizing (r19): REBALANCE
    * by the partition column before the dynamic-partition write.
    * Without it every upstream task emits one file per touched
    * partition — T×P tiny files (the sf10 keyed-lookup build measured
    * 113 parquet files AVERAGING 1 MB across the table), the job
    * commit renames them serially on the driver (seed-write avg
    * parallelism 1.3–2.8 of 32 cores), and every later scan of the
    * table pays the per-file open cost. The rebalance shuffles the
    * batch once by partition value; AQE's rebalance optimizer then
    * SPLITS oversized partitions back into advisory-sized tasks and
    * coalesces tiny ones, so output files track
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` at any scale
    * (scale-adaptive — a 100 GB partition still writes in parallel;
    * a plain `repartition(partitionCol)` would funnel it through ONE
    * task). Rows are unchanged — layout only. */
  private def writePartitionedBatch(df: DataFrame, partitionCol: String,
      dir: String): Unit =
    df.hint("rebalance", partitionCol).write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).parquet(dir)

  /** APPEND-ONLY publish for a [[publishMergePartitioned]] table: the
    * incoming rows land in a NEW batch dir and its partition segments
    * are ADDED to the manifest alongside the existing entries for the
    * same partitions — no current-content read, no partition rewrite.
    * This is the log-structured half of the merge-table story: a
    * high-fanout delta (e.g. one document batch touching every term
    * bucket of an inverted index) costs the DELTA's write, not the
    * touched partitions' rewrite — [[publishMergePartitioned]] would
    * rewrite them all, which at full fanout is a table rebuild per
    * batch (measured: SCALING.md round 14). The price is paid on READ
    * (a partition's rows now span several listed dirs — the reader
    * already unions multi-dir entries) and settled by periodic
    * compaction ([[publishMergeReplace]] folding a partition back to
    * one dir). APPEND has no keyed semantics: callers owning upsert
    * or delete meaning must pair it with their own tombstone
    * discipline (see `operators/LexicalIndex` / the IVF-PQ
    * maintenance) — raw appends of an existing key produce duplicate
    * rows by design, exactly like LSM segments before a merge. */
  def publishMergeAppend(
      spark: SparkSession,
      tableDir: String,
      incoming: DataFrame,
      partitionCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    // one segment file per partition per publish: without the
    // repartition, T tasks × P touched partitions emit T·P tiny files
    // and the serial job-commit rename dominates the apply wall
    // (measured 48 of 57 s at sf10 — the delta write itself is ~1 s).
    // An append never reads current content, so rival commits — even
    // to the same partitions — are just more segments: it always
    // rebases, never refuses (OccMergeSpec races this)
    commitMergeBatch(spark, tableDir, partitionCol) { _ =>
      Some(MergeBatch(incoming.schema, dir => {
        incoming.repartition(col(partitionCol)).write.mode(SaveMode.Overwrite)
          .partitionBy(partitionCol).parquet(dir)
        None
      }, _ => Set.empty, _ => (), appendOnly = true))
    }: Unit
  }

  /** Whole-partition REPLACEMENT publish: `content` becomes the entire
    * content of the named `partitions` — every live entry of those
    * partitions is dropped from the manifest and the new batch dir's
    * segments take their place (a partition with no rows in `content`
    * simply disappears). This is the compaction primitive for
    * append-maintained tables: fold a partition's multi-dir row set
    * (minus tombstoned rows, applied by the CALLER) back to one dir.
    * Unlike [[publishMergePartitioned]] there is NO merge with current
    * content — the caller asserts `content` is the truth for those
    * partitions. Same manifest/claim/retention discipline. */
  /** `basisVersion`: the [[mergeCommittedVersion]] snapshotted BEFORE
    * reading the content being folded. With it, a rival commit to the
    * replaced partitions between that read and this commit REFUSES
    * (`ConcurrentModificationException`) instead of being silently
    * folded away — the transactional compaction contract. Without it
    * the basis defaults to commit time (correct only under the
    * single-logical-writer maintenance discipline, where no rival can
    * write between read and publish). */
  def publishMergeReplace(
      spark: SparkSession,
      tableDir: String,
      content: DataFrame,
      partitionCol: String,
      partitions: Seq[Any],
      basisVersion: Option[Long] = None): Unit = {
    require(partitions.nonEmpty, "publishMergeReplace: empty partition list")
    // replaced partitions are matched against manifest dir segments by
    // value string: see requirePathSafe
    requirePathSafe("publishMergeReplace", partitions,
      "replace by a path-safe partition value, or republish the whole table")
    val replaced = partitions.map(v => s"$partitionCol=$v").toSet
    // compaction output: advisory-sized files per partition via the
    // rebalanced write (r19). `content` asserts the whole truth for the
    // replaced partitions, derived from a read of their current content
    // (compaction): a rival commit touching any of them refuses
    commitMergeBatch(spark, tableDir, partitionCol) { basis =>
      Some(MergeBatch(content.schema, dir => {
        writePartitionedBatch(content, partitionCol, dir); None
      }, written => {
        require(written.nonEmpty || basis.entries.exists(e => !replaced(segmentOf(e))),
          "publishMergeReplace would empty the table — republish it instead")
        replaced
      }, _ => (), basisVersion = basisVersion))
    }: Unit
  }

  /** Refuses partition values that a commit could not match against a
    * manifest segment by value string (`<col>=<value>`): null and ""
    * (Spark writes both as the default-partition sentinel) and any value
    * whose string Spark's partition-path escaping changes (it
    * percent-encodes ':', '=', '#', '*', '?', quotes, brackets, …).
    * Such a value would silently match no live entry, so its stale rows
    * would survive beside the rewrite; `caller` names the publish in
    * the message and `instead` says what to do. */
  private def requirePathSafe(caller: String, values: Iterable[Any], instead: String): Unit =
    values.foreach { v =>
      require(v != null, s"$caller: null partition value — $instead")
      val s = String.valueOf(v)
      require(s.nonEmpty, s"$caller: empty-string partition value — Spark writes it as " +
        s"the default-partition sentinel; $instead")
      require(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s) == s,
        s"$caller: partition value '$s' does not round-trip Spark's partition-path " +
          s"encoding — $instead")
    }

  /** Row-level DELETE publish for a [[publishMergePartitioned]] table —
    * the retraction half MERGE alone can't express (GDPR erasure,
    * eval-set eviction, takedowns): rewrite the touched partitions
    * WITHOUT the rows matching `deletes` on `cfg.naturalKey`, under
    * the exact same manifest/claim/retention discipline as
    * a merge publish. Deleted keys then surface as `orphaned` in
    * [[mergeRowChangesSince]], so keyed downstream state (e.g.
    * [[graft.operators.Dedup.decontaminateChanges]]'s status
    * snapshot) retracts them through the row-level change feed.
    *
    * `deletes` must carry the natural key AND `partitionCol` — the
    * partition values locate the touched partitions without a table
    * scan, so the cost is the touched partitions' size, never the
    * table. A partition emptied by the delete drops out of the
    * manifest entirely (its data dir is pruned on the standard
    * two-publish slack). Partition values must round-trip their
    * `toString` through Spark's partition-path encoding (true for
    * numeric/date/plain-string values; exotic strings and nulls would
    * be percent-/sentinel-encoded by Spark's `escapePathName` and are
    * refused loudly rather than silently kept — the guard round-trips
    * each value through the exact escaping Spark writes with). Deletes
    * touching more than [[MaxTouchedPartitions]] distinct partition
    * values are refused as table-rewrites-in-disguise. Returns the
    * number of rows deleted (0 = no key matched; no publish). */
  def publishMergeDeletes(
      spark: SparkSession,
      tableDir: String,
      deletes: DataFrame,
      cfg: graft.types.TableConfig,
      partitionCol: String): Long = {
    import org.apache.spark.sql.functions.col
    require(deletes.columns.contains(partitionCol),
      s"deletes frame must carry the partition column '$partitionCol'")
    cfg.naturalKey.foreach(k => require(deletes.columns.contains(k),
      s"deletes frame must carry natural-key column '$k'"))
    require(claimNumbers(fsOf(spark, tableDir), new org.apache.hadoop.fs.Path(tableDir),
      merge = true).nonEmpty, s"publishMergeDeletes: '$tableDir' is not a manifest-published table")
    commitMergeBatch(spark, tableDir, partitionCol) { basis =>
      // Bounded metadata collect: touched-partition cardinality is the
      // ONLY thing collected, and even that is probed with a limit first
      // so a mis-specified deletes frame (e.g. the key column passed as
      // the partition column) refuses loudly instead of materializing a
      // data-proportional set on the driver.
      val touched = if (basis.entries.isEmpty) Array.empty[Any]
        else deletes.select(partitionCol).distinct()
          .limit(MaxTouchedPartitions + 1).collect().map(_.get(0))
      require(touched.length <= MaxTouchedPartitions,
        s"publishMergeDeletes: deletes touch > $MaxTouchedPartitions distinct " +
          s"'$partitionCol' values — that is a table rewrite, not a targeted " +
          "delete; split the job or republish the table instead")
      // a value that Spark's path escaping changes would match no
      // manifest segment and silently retain rows meant for erasure
      requirePathSafe("publishMergeDeletes", touched,
        "delete those rows by republishing the table without them")
      val touchedSegs = touched.map(v => s"$partitionCol=$v").toSet
      val dropSegs = basis.entries.map(segmentOf).filter(touchedSegs).toSet
      if (dropSegs.isEmpty) {
        // Every touched value missed the manifest: the partition is not
        // live (e.g. an idempotent re-run after the delete emptied it).
        // Keep the no-op contract but say so loudly in the log.
        if (touched.nonEmpty) log.warn(
          s"publishMergeDeletes: none of the ${touched.length} touched " +
            s"'$partitionCol' values match a live partition (live sample: " +
            s"${basis.entries.map(segmentOf).distinct.take(5).mkString(", ")}); no-op")
        None
      } else {
        val current = assembleManifest(spark, tableDir, basis).get
          .filter(col(partitionCol).isin(touched.toSeq: _*))
          .withColumn(partitionCol,
            col(partitionCol).cast(deletes.schema(partitionCol).dataType))
        val delKeys = deletes.select(cfg.naturalKey.map(col): _*).distinct()
        val remaining = current.join(delKeys, cfg.naturalKey, "left_anti")
          .localCheckpoint(false) // count + write off one materialization
        val nDeleted = current.count() - remaining.count()
        // the rewrite derives from the touched partitions' current
        // content: a rival commit to any of them refuses (a stale commit
        // would resurrect the rival's deleted rows or drop its merged
        // ones). Every old entry of a touched partition goes, including
        // the ones the delete emptied: the one place entries vanish by
        // value, not by name
        if (nDeleted == 0L) None
        else Some(MergeBatch(remaining.schema, dir => {
          writePartitionedBatch(remaining, partitionCol, dir); None
        }, _ => dropSegs, _ => nDeleted))
      }
    }.getOrElse(0L)
  }

  /** Prune rotated manifests and the batch dirs only they reference.
    *
    * The retention contract is anchored to the HIGHEST CLAIM, not the
    * file listing: a reader that resolved claim k keeps every dir
    * manifest k references until at least two newer manifests have been
    * claimed (the two-publish reader slack). Written-but-unclaimed
    * manifests therefore cannot consume the slack — the round-8 N×M
    * stress failure was `takeRight(3)` counting three in-flight
    * publishers' manifests as the retained set and rotating out a
    * manifest a live reader had just resolved. Protection set = every
    * manifest numbered ≥ top−2 (the live one, the two-publish slack
    * below it, anything newer or pending) plus any younger-than-grace
    * candidate (a recently rotated version a slow reader may still
    * scan, or a stalled publisher's attempt whose dirs it will rebase
    * with; past the grace it degrades to the documented lost update).
    * A candidate is a manifest below top−2, or an unclaimed one whose
    * number another manifest's claim holds (a crashed or lost attempt:
    * it can never commit).
    *
    * The pass is ABORT-ON-DOUBT: if any manifest in the ≥ top−2
    * protection set vanishes before its reference list is read (a
    * concurrent pruner won a race), this pass deletes NOTHING — the
    * round-8 failure's second ingredient was a vanished retained
    * manifest silently reading as an empty reference list, shrinking
    * the protection set. Deferral leaks nothing: the next publish
    * re-runs the prune. A vanished CANDIDATE just drops out of both the
    * protection and the deletion sets — no in-window reader can be
    * holding it, and a concurrent pruner deleting it means its dirs were
    * already adjudicated. A manifest of any of the three sets that
    * states no format version, or one this engine does not read, also
    * defers the whole pass: its reference list is unknown.
    *
    * Deletion order is dirs, then manifests, then the claims below the
    * lowest retained manifest in ascending order (see [[claimNext]]): a
    * crash between the two leaves a still-readable rotated manifest
    * whose next prune is idempotent, never an orphan dir referenced by
    * no manifest (which only [[vacuumOrphans]] would reclaim). */
  private[sources] def pruneMergePartitioned(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, graceMs: Long = 10L * 60 * 1000): Unit = {
    val listed = fs.listStatus(root).toSeq
    val names = listed.filter(_.isFile).map(_.getPath.getName)
    val claims = names.filter(_.startsWith(CommitPrefix)).map(numberOf(_, CommitPrefix))
    if (claims.isEmpty) return
    val top = claims.max
    val manifests = names.filter(_.startsWith("manifest-"))
    // a number in the window that two manifests carry: the claim names
    // the one that committed
    val contested = manifests.groupBy(numberOf(_, "manifest-")).collect {
      case (n, ms) if ms.size > 1 && n >= top - 2 && claims.contains(n) => n
    }.toSeq
    val winners =
      try contested.flatMap(n => readControl(fs, claimPath(root, n))).toSet
      catch { case e: java.io.IOException =>
        log.warn(s"merge prune on $root deferred: ${e.getMessage}")
        return
      }
    val (protect, candidates) = manifests.partition { m =>
      val n = numberOf(m, "manifest-")
      n >= top - 2 && (!contested.contains(n) || winners(m))
    }
    val now = System.currentTimeMillis()
    val aged = candidates.flatMap { m =>
      try Some(m -> (now - fs.getFileStatus(
        new org.apache.hadoop.fs.Path(root, m)).getModificationTime < graceMs))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val young = aged.collect { case (m, true) => m }
    val old   = aged.collect { case (m, false) => m }
    // crashed claimers' temps go whatever else the pass decides
    listed.foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(ClaimTmpPrefix) &&
          now - st.getModificationTime >= ClaimTmpGraceMs)
        deleteQuiet(fs, st.getPath, recursive = false)
    }
    if (old.isEmpty) return
    // a manifest in a format this engine does not read may reference
    // anything: the pass defers, as for a vanished protected manifest,
    // and never throws (it runs after a publish already committed)
    val refs = (ms: Seq[String]) => ms.map(readManifestOpt(fs, root, _).map(_.entries))
    val (protectRefs, youngRefs, oldRefs) =
      try (refs(protect), refs(young), refs(old))
      catch { case e: IllegalStateException =>
        log.warn(s"merge prune on $root deferred: ${e.getMessage}")
        return
      }
    if (protectRefs.exists(_.isEmpty)) return // abort-on-doubt
    val referenced = (protectRefs.flatten ++ youngRefs.flatten).flatten.map(topSegmentOf).toSet
    val dead = oldRefs.flatten.flatten.map(topSegmentOf).toSet -- referenced
    dead.foreach(d =>
      deleteQuiet(fs, new org.apache.hadoop.fs.Path(root, d), recursive = true))
    old.foreach(m =>
      deleteQuiet(fs, new org.apache.hadoop.fs.Path(root, m), recursive = false))
    val floor = ((protect ++ young).map(numberOf(_, "manifest-")) :+ (top - 2)).min
    claims.filter(_ < floor).sorted.foreach(n => deleteQuiet(fs, claimPath(root, n), recursive = false))
  }

  /** The filesystem of the table or dir at `path`. */
  private def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** delete() tolerating concurrent-pruner races: on a vanished path
    * it returns false on most filesystems, but some object-store
    * shims throw FNF from the recursive listing instead. */
  private def deleteQuiet(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, recursive: Boolean): Unit =
    try { fs.delete(p, recursive); () }
    catch { case _: java.io.FileNotFoundException => () }

  /** The trimmed UTF-8 content of a small control file (a claim
    * marker, a checkpoint, a sidecar); None when it does not
    * exist. Any other I/O error propagates. */
  private def readControl(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  // ─────────────── optimistic-concurrency commit (round 16) ───────────────

  private val CommitPrefix = "commit-"

  private def claimPath(root: org.apache.hadoop.fs.Path, n: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(root, f"$CommitPrefix$n%012d")

  /** The numbers of a table root's `commit-<n>` claims, from one
    * listing; none for an absent root. A root that holds what a layout
    * from before claimed commits left but no claim (a table's
    * `_current`, an index's `_gen` or `genswap-*`, and for a `merge`
    * table a plain `<col>=<val>` partition dir) is refused, naming the
    * root: a table's state is its highest claim, and such a root has
    * none. */
  private def claimNumbers(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, merge: Boolean = false): Seq[Long] = {
    val listed =
      try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val claims = listed.collect {
      case st if st.isFile && st.getPath.getName.startsWith(CommitPrefix) =>
        numberOf(st.getPath.getName, CommitPrefix)
    }
    if (claims.isEmpty) listed.map(st => st.getPath.getName -> st.isDirectory)
      .collectFirst { case (n, dir) if n == "_current" || n == "_gen" ||
        n.startsWith("genswap-") || (merge && dir && n.contains("=")) => n }
      .foreach(n => throw new IllegalStateException(s"table $root holds $n but no " +
        "commit-<n> claim: a layout from before claimed commits, which this engine does " +
        "not read (a table's state is the one its highest claim names) — refusing"))
    claims
  }

  /** The committed state of a table root: its highest `commit-<n>`
    * claim, as `named` reads what the claim's content names (a merge
    * manifest, a snapshot version dir). None when the root holds no
    * claim. This one rule resolves every merge and snapshot read and
    * every publish basis: a commit is visible the moment its claim
    * exists, and nothing else is swapped. A claim, or what it names,
    * that vanishes between the listing and the read was pruned because
    * rivals committed past it: the resolve lists again, and fails loudly
    * when that keeps happening. */
  private def resolveClaim[T](fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, merge: Boolean, attempt: Int = 1)(
      named: (Long, String) => Option[T]): Option[(Long, T)] =
    claimNumbers(fs, root, merge).maxOption.flatMap { n =>
      readControl(fs, claimPath(root, n)).flatMap(named(n, _)) match {
        case Some(t) => Some(n -> t)
        case None if attempt < 3 => resolveClaim(fs, root, merge, attempt + 1)(named)
        case None => throw new IllegalStateException(
          s"claim $root/${claimPath(root, n).getName} or what it names no longer exists — " +
            "the reader lagged beyond the two-publish retention window")
      }
    }

  /** Take `commit-<c+1>` for `content`, where `c` is the committed
    * number the claimer's basis read: true iff this claimer took it.
    * Claim numbers are DENSE, so winning `c+1` proves no rival committed
    * since the basis read — provided the slot was never claimed and
    * pruned. Retention deletes claims below the retained window in
    * ascending order, so while `commit-<c>` stands `commit-<c+1>` has
    * not been pruned: the basis claim is read first (its content
    * checked by `held`, which refuses a claim in an unknown format), and
    * a basis claim that is gone (or, for `c` = 0, any claim at all)
    * means rivals committed past the basis: nothing is claimed. */
  private def claimNext(fs: org.apache.hadoop.fs.FileSystem, uri: java.net.URI,
      root: org.apache.hadoop.fs.Path, c: Long, content: String)(
      held: (Long, String) => Unit): Boolean = {
    val basisHeld =
      if (c == 0) claimNumbers(fs, root).isEmpty
      else readControl(fs, claimPath(root, c)).exists { text => held(c, text); true }
    basisHeld && createExclusive(fs, uri, claimPath(root, c + 1), content)
  }

  /** Atomic create-EXCLUSIVE of a small control file — the put-if-absent
    * the optimistic commit serializes on. True iff this caller created
    * it; false when a rival already owns the name.
    *
    * The claim's CONTENT must be atomic with the claim itself: a direct
    * create-then-write crashing between the two leaves an empty marker
    * that owns its number forever — every later publish re-derives the
    * same next number, loses the claim to the corpse, and wedges after
    * its retry budget (a PERMANENT publish wedge, since nothing ever
    * reclaimed the marker). So the content is written complete to a
    * sibling `_claim-*` temp first (a name the `commit-*` listings never
    * match) and the claim is the atomic no-replace move into the final
    * name: link(2) on file:// (EEXIST from a rival is the lost race;
    * POSIX rename would silently REPLACE, and NIO's no-replace move is
    * emulated exists-then-rename — a TOCTOU two racing publishers fall
    * straight into), HDFS rename elsewhere (single NameNode op, false
    * when the destination exists). Either way the final name appears
    * with its full content or not at all. */
  private def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      uri: java.net.URI, path: org.apache.hadoop.fs.Path,
      content: String): Boolean = {
    val tmpName = s"$ClaimTmpPrefix${path.getName}-" +
      java.util.UUID.randomUUID().toString.take(8)
    if (Option(uri.getScheme).forall(_ == "file")) {
      val target = java.nio.file.Paths.get(path.toUri.getPath)
      val tmp = target.resolveSibling(tmpName)
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8")): Unit
      try { java.nio.file.Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally { java.nio.file.Files.deleteIfExists(tmp): Unit }
    } else {
      val tmp = new org.apache.hadoop.fs.Path(path.getParent, tmpName)
      val out = fs.create(tmp, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      val won =
        try fs.rename(tmp, path)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      if (!won) deleteQuiet(fs, tmp, recursive = false)
      won
    }
  }

  /** Temp-file prefix for in-flight [[createExclusive]] claims. Deliberately
    * outside every control-file namespace (`commit-*`, `manifest-*`, `b-*`,
    * `v-*`); a crashed claimer's leftover is reclaimed by the prune once
    * aged ([[ClaimTmpGraceMs]]). */
  private val ClaimTmpPrefix = "_claim-"

  /** Age after which a `_claim-*` temp is a crashed claimer's leftover: a
    * completing claim moves its temp away within milliseconds. */
  private val ClaimTmpGraceMs = 10L * 60 * 1000

  /** The committed state of a merge table: the manifest its highest
    * claim names ([[resolveClaim]]), with the claim's number; None when
    * the table holds no claim. Every read of the live table and every
    * publish basis resolves through here, so a publish sees exactly what
    * readers see and can never rebase past a claimed rival batch. A
    * claim that names no manifest, and a root of plain partition dirs
    * with no claim, are refused, naming them. */
  private def committedManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(Long, Manifest)] =
    resolveClaim(fs, root, merge = true)((n, m) =>
      readManifestOpt(fs, root, requireManifestClaim(root, n, m)))

  /** `content` of merge claim `n`, refused unless it names a manifest. */
  private def requireManifestClaim(root: org.apache.hadoop.fs.Path, n: Long,
      content: String): String =
    if (content.startsWith("manifest-")) content
    else throw new IllegalStateException(s"merge claim $root/${claimPath(root, n).getName} " +
      s"names no manifest ('${content.take(80)}') — refusing a layout this engine does not know")

  /** [[committedManifest]], the empty manifest at number 0 for a table
    * with no claim: a publisher's basis. */
  private def latestCommitted(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (Long, Manifest) =
    committedManifest(fs, root).getOrElse(0L -> Manifest.Empty)

  /** Segment names (`col=value`) whose live dir-set differs between two
    * manifest reference lists — the partitions rival commits changed
    * between a publisher's read and its claim. */
  private def changedSegments(a: Seq[String], b: Seq[String]): Set[String] = {
    def bySeg(es: Seq[String]) =
      es.groupBy(segmentOf).map { case (s, v) => s -> v.sorted }
    val ma = bySeg(a); val mb = bySeg(b)
    (ma.keySet ++ mb.keySet).filter(s => ma.get(s) != mb.get(s))
  }

  /** The committed version number of a merge table right now — the
    * READ BASIS a transactional caller snapshots BEFORE deriving
    * content it will publish with [[publishMergeReplace]]: passing it
    * back as `basisVersion` makes the commit refuse if any rival
    * committed to the same partitions after this moment (instead of
    * silently folding the rival's rows away). */
  def mergeCommittedVersion(spark: SparkSession, tableDir: String): Long = {
    val fs = fsOf(spark, tableDir)
    latestCommitted(fs, new org.apache.hadoop.fs.Path(tableDir))._1
  }

  /** The manifest of the commit CLAIMED at `version`: the one its
    * `commit-<n>` marker names, the one that won the number. None when
    * the version is no longer resolvable (pruned past retention) or was
    * never committed. */
  private def committedAt(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, version: Long): Option[Manifest] =
    readControl(fs, claimPath(root, version))
      .flatMap(m => readManifestOpt(fs, root, requireManifestClaim(root, version, m)))

  /** Optimistic-concurrency manifest commit — the engine's answer to the
    * reference's per-load Postgres transaction
    * (table-loader/services/loader.py:102 runs each load in one
    * connection/txn; a filesystem table gets no such server, so the
    * commit protocol has to build the serialization itself).
    *
    * Before r16 concurrent DATA publishers degraded to a silent whole
    * lost update: both read manifest N, both wrote a rival N+1 (distinct
    * uids), last pointer swap won and the loser's batch quietly fell out
    * of the reference list. Now every publish CLAIMS its manifest number
    * with [[createExclusive]] on `commit-<n>` (the Delta-on-HDFS
    * put-if-absent protocol): exactly one publisher owns each number, so
    * commits serialize. A publisher that loses its claim re-reads the
    * winner's committed reference list ([[latestCommitted]]) and either
    *
    *  - REBASES — recomputes its entry edit against the winner's list
    *    and retries at the next number — when the rival's changes are
    *    disjoint from the partitions this publish consumed, or when the
    *    caller's content never depended on current content at all
    *    (`rebaseOnOverlap`, the pure-append LSM path, where
    *    same-partition rival batches are semantically just more
    *    segments); or
    *  - REFUSES loudly (`ConcurrentModificationException`) when the
    *    winner changed a partition whose CURRENT content this publish
    *    read (merge / replace / delete derive their output from that
    *    read — committing it after a rival rewrite would publish state
    *    derived from a stale snapshot and silently drop the rival's
    *    rows: Delta's write-conflict semantics, refuse-and-recompute).
    *
    * Either way a claimed batch is never silently lost — the pre-r16
    * contract documented exactly that loss. The claim IS the commit:
    * the manifest is written complete before it, and readers and the
    * next publisher's basis resolve the highest claim
    * ([[resolveClaim]]), so a publisher crashing right after its claim
    * has committed, and one crashing before it has not.
    *
    * `read` = the [[latestCommitted]] state the caller read on entry:
    * the first attempt claims its successor without reading it again
    * (sound by the dense-claim argument below — winning `commit-<n+1>`
    * proves nothing committed since that read, however long ago it
    * was); every later attempt re-reads. `basisEntries` = the reference
    * list the caller's content derives from (its `read` entries, or an
    * older pinned version). `touchedSegs` = partition segments whose
    * current content the caller consumed or replaces (by Spark-escaped
    * segment name). `mkEntries` re-derives the new reference list from
    * any base — it runs once per attempt; the manifest records the
    * schema of each dir group it keeps, `batch` (the new batch dir and
    * its schema) among them. */
  private def claimMergeManifest(fs: org.apache.hadoop.fs.FileSystem,
      uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration,
      root: org.apache.hadoop.fs.Path, tableDir: String,
      read: (Long, Manifest), basisEntries: Seq[String], touchedSegs: Set[String],
      rebaseOnOverlap: Boolean, uid: String, batch: (String, StructType))(
      mkEntries: Seq[String] => Seq[String]): Unit = {
    // conflicts are ALWAYS judged against the caller's read basis (the
    // reference list its content derives from), never a rebased view —
    // a commit landing between the basis read and the first claim is
    // exactly as stale-making as one landing mid-loop
    def refuseIfConflicting(committed: Seq[String]): Unit = {
      val conflict = changedSegments(basisEntries, committed) intersect touchedSegs
      if (conflict.nonEmpty && !rebaseOnOverlap)
        throw new java.util.ConcurrentModificationException(
          s"merge commit on $tableDir: a concurrent publisher committed " +
            s"changes to partition(s) ${conflict.take(5).mkString(", ")}" +
            (if (conflict.size > 5) s" (+${conflict.size - 5} more)" else "") +
            " after this publish read their current content — re-read and " +
            "re-derive the publish (stale-snapshot write refused, not lost)")
    }
    var attempts = 0
    var claimed = false
    while (!claimed) {
      attempts += 1
      if (attempts > 20) throw new IllegalStateException(
        s"merge commit on $tableDir lost ${attempts - 1} consecutive claim " +
          "races — pathological publisher contention; back off and retry")
      // DENSE claim numbers — the load-bearing detail. The claim must
      // be EXACTLY lastCommitted + 1: winning it PROVES no rival
      // committed between this latestCommitted read and the claim (any
      // rival would have had to take the same number first; see
      // claimNext). Numbering past anything by a listing max — the
      // first r16 cut — leaves a gap a rival can commit into without
      // ever contesting our claim, and whichever publish holds the
      // smaller number is silently not the state (OccMergeSpec's
      // same-partition race caught exactly this as "succeeded but
      // silently lost").
      val (cNum, committed) = if (attempts == 1) read else latestCommitted(fs, root)
      refuseIfConflicting(committed.entries)
      val next = cNum + 1
      val mfile = f"manifest-$next%012d-$uid"
      writeRaw(uri, conf, new org.apache.hadoop.fs.Path(root, mfile),
        Manifest(mfile, committed.schemas + batch, mkEntries(committed.entries)).text)
      claimed = claimNext(fs, uri, root, cNum, mfile)((n, m) => requireManifestClaim(root, n, m): Unit)
      if (!claimed) {
        // the lost attempt's manifest is claimed by nothing and
        // referenced by nothing — reclaim it now rather than leaking one
        // file per lost race
        deleteQuiet(fs, new org.apache.hadoop.fs.Path(root, mfile), recursive = false)
        log.info(s"merge commit on $tableDir: claim $next lost to a rival " +
          s"publisher; rebasing (attempt $attempts)")
      }
    }
  }

  /** A merge-table write as [[commitMergeBatch]] stages it. `write`
    * writes a frame of schema `frame` in the `partitionBy` layout into
    * the batch dir whose path it is given, and returns the segments
    * (`col=value` dir names) it wrote when it knows them; None lists the
    * dir. The commit drops the basis entries of the segments
    * `replaces(written)` names and adds the written ones; a rival commit
    * after the basis read to any of those segments, or to a written
    * one, refuses, unless the write is `appendOnly` (its content never
    * read the table, so it always rebases). `basisVersion` pins the
    * basis to an older committed version ([[publishMergeReplace]]).
    * `result` is what the publish returns, given the written segments. */
  private final case class MergeBatch[T](frame: StructType,
      write: String => Option[Seq[String]], replaces: Seq[String] => Set[String],
      result: Seq[String] => T, appendOnly: Boolean = false,
      basisVersion: Option[Long] = None)

  /** The one commit path of every merge-table write: read the committed
    * basis ([[latestCommitted]]), let `stage` derive the write from it
    * (None: nothing to commit), name the batch dir after the commit it
    * read (`b-<c+1>-<uid>`: without racing publishes, dir groups sort
    * in commit order), run the write, and claim the next manifest
    * ([[claimMergeManifest]]), which records the batch dir's schema as
    * the dir reads it: the frame's columns with the partition column,
    * typed as written, last: the claim is the commit. Then the prune
    * runs. A write or claim that throws (a failed write, a stale-snapshot
    * refusal, claim-retry exhaustion, an unreadable basis) reclaims the
    * batch dir, which no committed manifest references: the prune only
    * reclaims dirs of deleted manifests. */
  private def commitMergeBatch[T](spark: SparkSession, tableDir: String, partitionCol: String)(
      stage: Manifest => Option[MergeBatch[T]]): Option[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = new java.net.URI(tableDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(uri, conf)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val read @ (c, basis) = latestCommitted(fs, root)
    stage(basis).map { b =>
      val basisEntries = b.basisVersion.fold(basis.entries)(v =>
        committedAt(fs, root, v).getOrElse(throw new java.util.ConcurrentModificationException(
          s"merge commit on $tableDir: basis version $v is no longer retained — the " +
            "content read is older than the retention window; re-read and retry")).entries)
      // batch dirs and manifest files carry a per-publisher unique
      // suffix: two concurrent publishers that read the same max number
      // then write DISTINCT files instead of clobbering each other's
      val uid = java.util.UUID.randomUUID().toString.take(8)
      val bdir = f"b-${c + 1}%012d-$uid"
      val dir = new org.apache.hadoop.fs.Path(root, bdir)
      val schema = org.apache.spark.sql.graftbridge.Bridge.nullable(StructType(
        b.frame.filterNot(_.name == partitionCol) :+ b.frame(partitionCol)))
      val written =
        try {
          val written = b.write(s"$tableDir/$bdir").getOrElse(
            try fs.listStatus(dir).toSeq.collect {
              case st if st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol=") =>
                st.getPath.getName
            } catch { case _: java.io.FileNotFoundException => Seq.empty })
          val replaced = b.replaces(written)
          claimMergeManifest(fs, uri, conf, root, tableDir, read, basisEntries,
              replaced ++ written, b.appendOnly, uid, bdir -> schema) { es =>
            es.filterNot(e => replaced(segmentOf(e))) ++ written.map(s => s"$bdir/$s")
          }
          written
        } catch { case t: Throwable =>
          try deleteQuiet(fs, dir, recursive = true)
          catch { case s: Throwable => t.addSuppressed(s) }
          throw t
        }
      pruneMergePartitioned(fs, root)
      b.result(written)
    }
  }

  /** Read the live state of a [[publishMergePartitioned]] table:
    * resolve the highest claim once, then scan exactly the dirs its manifest
    * lists (one scan per batch dir under the schema the manifest
    * records for it, so the partition column comes back as written and
    * Catalyst partition pruning still prunes reader-side filters to the
    * touched dirs). A table with no claim, or whose manifest lists no
    * dir, reads as an empty frame with no column. `partitionCol` is not
    * read: the manifest records every dir's schema. */
  def readMergePartitioned(spark: SparkSession, tableDir: String,
      partitionCol: String = ""): DataFrame =
    assembleManifest(spark, tableDir, readableManifest(spark, tableDir))
      .getOrElse(spark.emptyDataFrame)

  /** Per-partition live GENERATION counts of a merge table: partition
    * dir segment (`col=value`) → number of distinct batch dirs the
    * live manifest stitches together for it. This is the LSM
    * read-amplification metric — every generation is one more parquet
    * dir a scan of that partition opens — and the signal the
    * index-maintenance trigger compacts on
    * ([[graft.operators.IndexMaintenance]]). Listing-only: resolves
    * the highest claim, no Spark job. */
  def mergeGenerations(spark: SparkSession, tableDir: String,
      partitionCol: String): Map[String, Int] =
    readableManifest(spark, tableDir).entries.groupBy(segmentOf)
      .view.mapValues(_.map(topSegmentOf).distinct.size).toMap

  /** Distinct live top-level batch dirs of a merge table — the
    * table-wide commit/bookkeeping cost companion to
    * [[mergeGenerations]]. Listing-only. */
  def mergeBatchDirCount(spark: SparkSession, tableDir: String,
      partitionCol: String): Int =
    readableManifest(spark, tableDir).entries.map(topSegmentOf).distinct.size

  /** Retained manifest versions of a [[publishMergePartitioned]]
    * table, ascending — the highest claim's number and the two-publish
    * slack below it (plus any pending/unpruned rivals). */
  def mergeVersions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val fs = fsOf(spark, tableDir)
    manifestNames(fs, new org.apache.hadoop.fs.Path(tableDir))
      .map(numberOf(_, "manifest-")).distinct.sorted
  }

  /** Time travel over a merge-partitioned table: read the table state
    * a specific RETAINED manifest number published (see
    * [[mergeVersions]]) — the merge-table twin of
    * [[readSnapshotVersion]], with the same pin-the-start-state /
    * audit-the-pre-load-state uses. Fails loudly if pruned or never
    * committed. Same-numbered manifests of lost claim races are never
    * read: the version's `commit-<n>` marker names the one that won. */
  def readMergePartitionedVersion(spark: SparkSession, tableDir: String,
      version: Long): DataFrame =
    assembleManifest(spark, tableDir, retainedManifest(spark, tableDir, version))
      .getOrElse(spark.emptyDataFrame)

  /** Retained manifest `version`: the one its
    * `commit-<n>` marker names, never a losing attempt's same-numbered
    * manifest (a publisher that crashed before deleting it leaves one
    * behind, and its uid may sort first). Fails loudly when `version`
    * was pruned or never committed (the incremental consumer lagged
    * past retention — it must fall back to a full re-read, and
    * silently diffing against an empty list would report the whole
    * table as changed without saying so). */
  private def retainedManifest(spark: SparkSession, tableDir: String,
      version: Long): Manifest = {
    val fs = fsOf(spark, tableDir)
    committedAt(fs, new org.apache.hadoop.fs.Path(tableDir), version).getOrElse(
      throw new IllegalArgumentException(s"manifest $version not retained or never " +
        s"committed (have: ${mergeVersions(spark, tableDir).mkString(",")})"))
  }

  /** Changed-partition feed (partition-level CDC) over a
    * [[publishMergePartitioned]] table: the CURRENT state of every
    * partition whose live dir is not referenced by retained manifest
    * `sinceVersion` — i.e. everything rewritten by publishes after it.
    * This is the incremental-consumer primitive that matters at
    * 100 TB: batch dirs are immutable and a publish rewrites only the
    * partitions its batch touches, so the entry-list set-diff names
    * exactly the changed partitions WITHOUT READING ANY DATA, and the
    * scan is bounded by changed data, never table size. After a
    * compaction every partition's dir is new, so the feed degrades to
    * a full (still-correct) read; the row-level
    * [[mergeRowChangesSince]] stays exact even then, because
    * compaction is content-identical and the row diff sees no change.
    * Fails loudly when `sinceVersion` was pruned — the caller's
    * fallback is a full re-read, never a silent whole-table "delta". */
  def readMergePartitionedChanges(spark: SparkSession, tableDir: String,
      sinceVersion: Long, partitionCol: String = ""): DataFrame = {
    val live = readableManifest(spark, tableDir)
    val from = retainedManifest(spark, tableDir, sinceVersion).entries.toSet
    assembleManifest(spark, tableDir, live.withEntries(live.entries.filterNot(from)))
      .getOrElse(spark.emptyDataFrame)
  }

  /** Row-level change feed between retained manifest `sinceVersion`
    * and the live table state: full-outer diff (via
    * [[graft.operators.ChangeDetector.compare]]) of the OLD vs NEW
    * state of only the partitions rewritten since, classifying every
    * key as `new` / `updated` / `orphaned` (plus the dropped
    * `unchanged`), with the per-field old/new audit payload.
    *
    * Scale shape: both sides are pruned BY DIR NAME before any scan —
    * the new side is the changed dirs from
    * [[readMergePartitionedChanges]], the old side is `sinceVersion`'s
    * dirs for the same partition segments — so the join is bounded by
    * the touched partitions' size. Untouched partitions contribute
    * zero I/O and zero shuffle. Content-identical rewrites
    * (compaction) diff to `unchanged` and are dropped. */
  def mergeRowChangesSince(spark: SparkSession, tableDir: String,
      sinceVersion: Long, naturalKey: Seq[String],
      partitionCol: String = ""): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dirs = changeDirSets(spark, tableDir, sinceVersion)
    (assembleManifest(spark, tableDir, dirs.changed),
        assembleManifest(spark, tableDir, dirs.oldDirs)) match {
      case (Some(newState), Some(oldState)) =>
        graft.operators.ChangeDetector.compare(newState, oldState, naturalKey)
          .filter(col("change_status") =!= "unchanged")
      case (Some(newState), None) => // all-new partitions: every row inserts
        graft.operators.ChangeDetector.compare(newState, newState.limit(0), naturalKey)
      case (None, Some(oldState)) => // only whole-partition drops: all orphaned
        graft.operators.ChangeDetector.compare(oldState.limit(0), oldState, naturalKey)
      case _ => spark.emptyDataFrame
    }
  }

  /** Changed-dir / old-dir entry sets between retained `sinceVersion`
    * and the live manifest (shared by [[mergeRowChangesSince]] and the
    * fused row-level delta): `changed` = live entries absent from
    * `sinceVersion`'s manifest; `oldDirs` = `sinceVersion`'s entries
    * for the same partition segments, plus segments DROPPED from the
    * live manifest entirely (emptied by a delete publish — their old
    * state must still enter the diff, where every row classifies
    * `orphaned`). */
  private def changeDirSets(spark: SparkSession, tableDir: String,
      sinceVersion: Long): ChangeDirs = {
    val live = readableManifest(spark, tableDir)
    val from = retainedManifest(spark, tableDir, sinceVersion)
    val changed = live.entries.filterNot(from.entries.toSet)
    val changedSegs = changed.map(segmentOf).toSet
    val liveSegs = live.entries.map(segmentOf).toSet
    val oldDirs = from.entries.filter(e =>
      changedSegs.contains(segmentOf(e)) || !liveSegs.contains(segmentOf(e)))
    ChangeDirs(live, live.withEntries(changed), from.withEntries(oldDirs))
  }

  /** What [[changeDirSets]] found: the live manifest it read, and the
    * changed and old entries as manifests. */
  private final case class ChangeDirs(live: Manifest, changed: Manifest, oldDirs: Manifest)

  /** The row-level delta FUSED into one anti-join (r18, guide §2.4):
    * the changed rows' current state = new-state rows with NO old-state
    * row that matches on the natural key AND on every compared column
    * under [[graft.operators.ChangeDetector]]'s normalization (""/NaN
    * → null, null-safe equality, system fields ignored, maps compared
    * by their sorted entries: [[canonicalMaps]]). Equivalent to
    * the classify-then-rejoin formulation (full-outer diff → changed
    * keys → re-scan changed dirs → semi-join) the consumer used before
    * — `new` rows have no key match, `updated` rows have a key match
    * that fails column equality, `unchanged` rows match fully and drop
    * — but with ONE join and ONE scan of each side instead of a
    * full-outer join + a second scan of the changed dirs + a semi-join
    * (measured at sf0.1: 4 Exchanges → 2, 3 scans → 2; at 100 TB the
    * saved scan and shuffle are proportional to the touched
    * partitions). Null-keyed rows drop, exactly as the old semi-join
    * (null keys never equi-match) — merge-table keys are non-null by
    * contract. Assumes unique keys per state side, the
    * [[publishMergePartitioned]] invariant. */
  private def changedRowsOnly(newState: DataFrame, oldState: DataFrame,
      naturalKey: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, isnan, lit, when}
    import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}
    val compareCols = newState.columns.intersect(oldState.columns)
      .filterNot(naturalKey.contains)
      .filterNot(graft.operators.ChangeDetector.IgnoreFields.contains)
      .toSeq.sorted
    def norm(df: DataFrame, name: String): org.apache.spark.sql.Column = {
      val c = df(name)
      df.schema(name).dataType match {
        case StringType => when(c === "", lit(null)).otherwise(c)
        case DoubleType | FloatType => when(isnan(c), lit(null)).otherwise(c)
        case dt => canonicalMaps(c, dt)
      }
    }
    val keyEq = naturalKey.map(k => newState(k) === oldState(k))
      .reduce(_ && _)
    val cond = compareCols
      .map(c => norm(newState, c) <=> norm(oldState, c))
      .foldLeft(keyEq)(_ && _)
    newState.join(oldState, cond, "left_anti")
      .filter(naturalKey.map(col(_).isNotNull).reduce(_ && _))
  }

  /** `c` of type `dt` with every map in it, at any depth, replaced by its
    * entries sorted (keys are unique, so by key): a form `<=>` compares,
    * which Spark refuses for a map, and under which two maps holding the
    * same entries in another order are equal. Other values are left as
    * they are. */
  private def canonicalMaps(c: org.apache.spark.sql.Column,
      dt: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{array_sort, lit, map_entries, struct,
      transform, transform_values, when}
    import org.apache.spark.sql.types.{ArrayType, MapType}
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    dt match {
      case _ if !hasMap(dt) => c
      case m: MapType =>
        array_sort(map_entries(transform_values(c, (_, v) => canonicalMaps(v, m.valueType))))
      case a: ArrayType => transform(c, canonicalMaps(_, a.elementType))
      case st: StructType => when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        canonicalMaps(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
  }

  /** The retracted keys of the fused delta: the old state's key tuples
    * that no new-state row carries. A null-keyed old row never matches,
    * so it stays, as does every repeat of a key. */
  private def orphanedKeys(newState: DataFrame, oldState: DataFrame,
      naturalKey: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    oldState.select(naturalKey.map(col): _*)
      .join(newState.select(naturalKey.map(col): _*), naturalKey, "left_anti")
  }

  /** The row-level delta of a change feed whose new and old sides
    * `newGroups` and `oldGroups` read (one frame per dir group of the
    * changed and old entries of `live`), computed on the driver: both
    * sides' files read by [[scanOnDriver]] and diffed in Scala with the
    * distributed plans' semantics ([[changedRowsOnly]], [[orphanedKeys]],
    * and the one-sided deltas when a side is empty), both results
    * handed back as local relations under those plans' schemas (from
    * their analysis, never executed), with no job.
    * A new row is delivered unless an old row carries its key (Spark's
    * equality, so a null key never matches) and is equal to it on every
    * compared column (all but the key and
    * [[graft.operators.ChangeDetector.IgnoreFields]]) under Spark's
    * null-safe equality over Catalyst values, "" and NaN counting as
    * null; a null-keyed new row is dropped. An old row's key tuple is
    * retracted unless a new row carries it, so a null-keyed old row is.
    * Each row is matched on its own, so a key repeated on either side
    * gives exactly the anti-joins' rows. None — the distributed plans
    * run — when the two sides' files exceed
    * [[graft.operators.DriverPath.DriverMergeBytes]], when the dir groups'
    * schemas differ, when a group is not one plain parquet relation, or
    * when [[feedCovers]] refuses the schema. */
  private def rowDeltaOnDriver(spark: SparkSession, tableDir: String, live: Manifest,
      newGroups: Seq[DataFrame], oldGroups: Seq[DataFrame],
      naturalKey: Seq[String]): Option[RowDelta] = {
    import org.apache.spark.sql.functions.col
    import graft.operators.DriverPath
    val groups = newGroups ++ oldGroups
    val schema = groups.headOption.map(_.schema)
    if (!schema.exists(s => groups.forall(_.schema == s) && feedCovers(s, naturalKey))) None
    else rowsOnDriver(spark, groups, DriverPath.DriverMergeBytes).map { rows =>
      val s = schema.get
      val (newRows, oldRows) = (rows.take(newGroups.size).flatten, rows.drop(newGroups.size).flatten)
      val keyAt = naturalKey.map(s.fieldIndex)
      val keyOf = (r: InternalRow) => keyAt.map(i => r.get(i, s(i).dataType))
      val keyed = (r: InternalRow) => keyAt.forall(!r.isNullAt(_))
      val same = s.fields.indices
        .filterNot(i => naturalKey.contains(s(i).name) ||
          graft.operators.ChangeDetector.IgnoreFields.contains(s(i).name))
        .map(i => feedEquality(i, s(i).dataType))
      val oldByKey = oldRows.filter(keyed).groupBy(keyOf)
      val newKeys = newRows.filter(keyed).map(keyOf).toSet
      val delta = newRows.filter(r => keyed(r) &&
        !oldByKey.get(keyOf(r)).exists(_.exists(o => same.forall(_(r, o)))))
      val orphans = oldRows.filterNot(o => keyed(o) && newKeys(keyOf(o)))
        .map(o => InternalRow.fromSeq(keyOf(o)))
      def local(schema: StructType, rows: Seq[InternalRow]) =
        DriverPath.localRelation(spark, schema, rows)
      def union(gs: Seq[DataFrame]) = gs.reduce(_ unionByName _)
      val keys = naturalKey.map(col)
      (newGroups.nonEmpty, oldGroups.nonEmpty) match {
        case (true, true) => RowDelta(
          local(DriverPath.schemaOf(("rowDelta", s, naturalKey))(
            changedRowsOnly(union(newGroups), union(oldGroups), naturalKey).schema), delta),
          local(DriverPath.schemaOf(("orphanedKeys", s, naturalKey))(
            orphanedKeys(union(newGroups), union(oldGroups), naturalKey).schema), orphans),
          fullResync = false)
        case (true, false) => RowDelta(
          local(DriverPath.schemaOf(("insertsOnly", s, naturalKey))(union(newGroups)
            .filter(naturalKey.map(col(_).isNotNull).reduce(_ && _)).schema), delta),
          // the distributed plan's keys come from a read of the live table
          local(manifestGroups(live.entries).map(g => recordedSchema(tableDir, live, g._1)).distinct
            .map(Bridge.localRelation(spark, _, Nil)).reduce(_ unionByName _)
            .select(keys: _*).schema, Nil),
          fullResync = false)
        case _ => RowDelta(
          local(DriverPath.schemaOf(("dropsOnly", s, naturalKey))(
            union(oldGroups).limit(0).schema), Nil),
          local(DriverPath.schemaOf(("droppedKeys", s, naturalKey))(
            union(oldGroups).select(keys: _*).schema), orphans),
          fullResync = false)
      }
    }
  }

  /** Whether [[rowDeltaOnDriver]] covers `schema`: every key of a type
    * whose Catalyst values Scala's equality equates exactly as Spark's
    * does (integral, boolean, date and timestamp types, strings),
    * every compared column of a type Spark's ordering covers (no map,
    * interval or variant, at any depth), and every string, at any depth,
    * under the default binary collation. */
  private def feedCovers(schema: StructType, naturalKey: Seq[String]): Boolean = {
    import org.apache.spark.sql.types._
    def all(dt: DataType)(p: DataType => Boolean): Boolean = p(dt) && (dt match {
      case a: ArrayType => all(a.elementType)(p)
      case m: MapType => all(m.keyType)(p) && all(m.valueType)(p)
      case st: StructType => st.fields.forall(f => all(f.dataType)(p))
      case _ => true
    })
    val keyTypes = Set[DataType](ByteType, ShortType, IntegerType, LongType, BooleanType,
      DateType, TimestampType, TimestampNTZType, StringType)
    naturalKey.forall(k => schema.fieldNames.contains(k) && keyTypes(schema(k).dataType)) &&
      schema.fields.forall(f => all(f.dataType) {
        case st: StringType => st == StringType
        case _ => true
      }) &&
      schema.fields.filterNot(f => naturalKey.contains(f.name)).forall(f => all(f.dataType) {
        case _: MapType | _: CalendarIntervalType | _: VariantType => false
        case _: ArrayType | _: StructType => true
        case dt => scala.util.Try(
          org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(dt)).isSuccess
      })
  }

  /** [[changedRowsOnly]]'s column match at field `i` of type `dt` over
    * Catalyst rows: "" (a string) and NaN (a float or double) count as
    * null, two nulls match, and two values match when Spark's ordering
    * of `dt` ranks them equal — the equality `<=>` evaluates. */
  private def feedEquality(i: Int, dt: DataType): (InternalRow, InternalRow) => Boolean = {
    import org.apache.spark.sql.types.StringType
    val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(dt)
    val isNull: InternalRow => Boolean = dt match {
      case StringType => r => r.isNullAt(i) || r.getUTF8String(i).numBytes == 0
      case DoubleType => r => r.isNullAt(i) || r.getDouble(i).isNaN
      case FloatType => r => r.isNullAt(i) || r.getFloat(i).isNaN
      case _ => r => r.isNullAt(i)
    }
    (a, b) => {
      val (na, nb) = (isNull(a), isNull(b))
      if (na || nb) na && nb else ord.equiv(a.get(i, dt), b.get(i, dt))
    }
  }

  /** At-least-once incremental consumer over a
    * [[publishMergePartitioned]] table: feed `f` only what changed
    * since the durable checkpoint, then advance the checkpoint — the
    * batch-incremental loop (nightly delta jobs, downstream index
    * refresh) that at 100 TB replaces "rescan the table and diff".
    *
    * Semantics:
    *   - first run (no checkpoint): `f` gets the full table state;
    *   - steady state: `f` gets [[readMergePartitionedChanges]]
    *     (current state of partitions rewritten since the checkpoint);
    *   - no publishes since the checkpoint: `f` is NOT called (None);
    *   - consumer lagged past retention (checkpoint version pruned):
    *     documented degrade to a full re-read, never a silent partial
    *     delta;
    *   - a checkpoint file in a format this engine does not read
    *     ([[readNumberFile]]): refused, naming it, and `f` is not called.
    *
    * The checkpoint (`<checkpointDir>/_version`) is written AFTER `f`
    * returns, with an atomic rename-over ([[atomicReplace]]): a
    * crash inside `f` re-delivers the delta next run (at-least-once —
    * `f` must be idempotent, which every MERGE-shaped sink here is).
    * Publishes landing between the version resolution and the read
    * are delivered again next cycle for the same reason. The table
    * must be manifest-published; `live` is its committed version. */
  def processMergeChanges[T](spark: SparkSession, tableDir: String,
      checkpointDir: String, partitionCol: String = "")
      (f: (DataFrame, Long) => T): Option[T] =
    processCheckpointed(spark, tableDir, checkpointDir, f) {
      case Some(v) =>
        try readMergePartitionedChanges(spark, tableDir, v, partitionCol)
        catch { case _: IllegalArgumentException => // lagged past retention
          readMergePartitioned(spark, tableDir, partitionCol)
        }
      case None => readMergePartitioned(spark, tableDir, partitionCol)
    }

  /** Row-level at-least-once incremental consumer: as
    * [[processMergeChanges]], but `f` receives ONLY the rows whose
    * state actually changed since the checkpoint — the current state
    * of every key the row diff ([[mergeRowChangesSince]]) classifies
    * `new` or `updated`. Partition-level delivery hands the consumer
    * whole rewritten partitions, so already-processed rows ride along
    * beside the new ones; that is fine for a MERGE-shaped sink, but a
    * consumer whose batch semantics are ORDER-SENSITIVE across rows
    * sharing a key (identity resolution: two centers presenting one
    * identifier in one batch is a different statement than one center
    * re-presenting it) needs the row-level feed to make incremental ≡
    * sequential exact. Deleted keys are NOT delivered (no retraction
    * downstream); first run and lagged-past-retention degrade to the
    * full table, every row as-new — the same documented fallbacks.
    *
    * Scale shape: the row diff prunes both sides BY DIR NAME to the
    * touched partitions, and the delta is one anti-join of the changed
    * partitions' current state against their checkpointed state — cost
    * bounded by changed data, never table size. When the changed and
    * old files total at most `DriverPath.DriverMergeBytes` (a
    * micro-batch's touched partitions) and their schema is one the
    * Scala diff covers, both sides are read on the driver and diffed
    * there: the delta is a local relation and the delivery runs no job
    * ([[processMergeRowChangesWithDeletes]]). Above the bound the
    * distributed anti-join runs. */
  def processMergeRowChanges[T](spark: SparkSession, tableDir: String,
      checkpointDir: String, naturalKey: Seq[String], partitionCol: String = "")
      (f: (DataFrame, Long) => T): Option[T] =
    processMergeRowChangesWithDeletes(spark, tableDir, checkpointDir,
      naturalKey, partitionCol)((d, v) => f(d.delta, v))

  /** Row-level delivery WITH retractions, for consumers maintaining a
    * keyed downstream state that must track deletes (a status
    * snapshot, a materialized index): alongside the changed rows, `f`
    * receives the `orphaned` keys from the same row diff (keys
    * present in the checkpointed version, absent from the live state
    * of the rewritten partitions) and a `fullResync` flag for the
    * documented degrade paths (first run / lagged past retention),
    * where the delta is the FULL table and
    * the orphan set cannot be derived from a diff — a consumer seeing
    * `fullResync` must rebuild its state from the delta alone, which
    * is exactly what makes those paths safe. Same at-least-once
    * checkpoint loop as [[processMergeRowChanges]].
    *
    * When the changed and old entry files total at most
    * `DriverPath.DriverMergeBytes`, the delta and the orphaned keys are
    * computed on the driver ([[rowDeltaOnDriver]]) and delivered as
    * local relations under the distributed plans' schemas, with no
    * job; first run, lag past retention, larger feeds, dir groups
    * under different schemas and types the Scala diff does not cover
    * take the distributed plans. */
  def processMergeRowChangesWithDeletes[T](spark: SparkSession,
      tableDir: String, checkpointDir: String, naturalKey: Seq[String],
      partitionCol: String = "")
      (f: (RowDelta, Long) => T): Option[T] =
    processMergeRowChangesWithDeletes(spark, tableDir, checkpointDir, naturalKey, partitionCol,
      mayUseDriver = true)(f)

  /** [[processMergeRowChangesWithDeletes]], with the driver delta off
    * when `mayUseDriver` is false: the distributed plans the driver
    * delta must agree with. */
  private[sources] def processMergeRowChangesWithDeletes[T](spark: SparkSession,
      tableDir: String, checkpointDir: String, naturalKey: Seq[String],
      partitionCol: String, mayUseDriver: Boolean)
      (f: (RowDelta, Long) => T): Option[T] = {
    import org.apache.spark.sql.functions.col
    def emptyKeys() = readMergePartitioned(spark, tableDir, partitionCol)
      .select(naturalKey.map(col): _*).limit(0)
    processCheckpointed(spark, tableDir, checkpointDir, f) { last =>
      // a checkpoint lagged past retention names a manifest no longer
      // retained: only that degrades to a full resync
      val dirs = last.flatMap(v =>
        try Some(changeDirSets(spark, tableDir, v))
        catch { case _: IllegalArgumentException => None })
      dirs match {
        case Some(d) =>
          val (newGroups, oldGroups) =
            (groupFrames(spark, tableDir, d.changed), groupFrames(spark, tableDir, d.oldDirs))
          val onDriver =
            if (mayUseDriver) rowDeltaOnDriver(spark, tableDir, d.live, newGroups, oldGroups,
              naturalKey)
            else None
          // fused delta (r18): one anti-join over one scan of each
          // side replaces full-outer diff → changed keys → re-scan →
          // semi-join; see [[changedRowsOnly]] for the equivalence
          // argument (rows identical by construction, spec-pinned)
          onDriver.getOrElse((newGroups.reduceOption(_ unionByName _),
              oldGroups.reduceOption(_ unionByName _)) match {
            case (Some(newState), Some(oldState)) =>
              RowDelta(changedRowsOnly(newState, oldState, naturalKey),
                orphanedKeys(newState, oldState, naturalKey), fullResync = false)
            case (Some(newState), None) => // all-new partitions: every row inserts
              RowDelta(newState.filter(naturalKey.map(col(_).isNotNull).reduce(_ && _)),
                emptyKeys(), fullResync = false)
            case (None, Some(oldState)) => // only whole-partition drops
              RowDelta(oldState.limit(0), oldState.select(naturalKey.map(col): _*),
                fullResync = false)
            case _ =>
              RowDelta(readMergePartitioned(spark, tableDir, partitionCol).limit(0),
                emptyKeys(), fullResync = false)
          })
        case None =>
          RowDelta(readMergePartitioned(spark, tableDir, partitionCol),
            emptyKeys(), fullResync = true)
      }
    }
  }

  /** One row-level change delivery: the changed rows' current state,
    * the retracted (orphaned) keys, and whether this delivery is a
    * full resync (orphan set underivable — rebuild from `delta`). */
  final case class RowDelta(delta: DataFrame, orphanedKeys: DataFrame,
      fullResync: Boolean)

  /** The shared checkpoint loop under both incremental consumers:
    * resolve the committed version (the highest claim), read the
    * durable checkpoint, build the delta for the gap, run `f`, then
    * advance the checkpoint with an atomic rename-over (crash inside
    * `f` ⇒ redelivery next run; `f` must be idempotent). The checkpoint
    * `_version` is a [[readNumberFile]] file: absent means a first run,
    * and one in a format this engine does not read is refused. */
  private def processCheckpointed[D, T](spark: SparkSession, tableDir: String,
      checkpointDir: String, f: (D, Long) => T)
      (deltaOf: Option[Long] => D): Option[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tFs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(tableDir), conf)
    val claims = claimNumbers(tFs, new org.apache.hadoop.fs.Path(tableDir), merge = true)
    if (claims.isEmpty) return None // nothing published yet
    val live = claims.max
    val ckUri = new java.net.URI(checkpointDir)
    val ckFs = org.apache.hadoop.fs.FileSystem.get(ckUri, conf)
    val ckRoot = new org.apache.hadoop.fs.Path(checkpointDir)
    // no checkpoint → first run, a full read; one this engine cannot
    // read is refused, never taken for a first run
    val last = readNumberFile(ckFs, new org.apache.hadoop.fs.Path(ckRoot, "_version"))
    if (last.contains(live)) return None
    val out = f(deltaOf(last), live)
    atomicReplace(ckFs, ckUri, conf, ckRoot, "_version", numberFileText(live),
      java.util.UUID.randomUUID().toString.take(8))
    Some(out)
  }

  /** Sidecar fpp for BATCH-shaped keyed reads (an index apply's
    * ~feed-sized id set): dir-skipping needs the whole KEY SET to
    * miss, so the per-dir read probability is 1-(1-fpp)^keys — at the
    * default 0.01 a 500-key lookup reads ~every dir (99.3%), at 1e-4
    * it reads ~5% of non-matching dirs. Costs 2× the sidecar bytes
    * (~19 vs ~10 bits/key — still KBs for doclen, tens of MB for a
    * postings-sized table at sf10). The index maintenance layers
    * build with this; single-key point lookups are fine either way. */
  val BatchLookupFpp: Double = 1e-4

  /** Build per-dir Bloom key filters for a
    * [[publishMergePartitioned]] table: every batch dir the live
    * manifest references lacking one gets a `_keybloom-<keyCol>`
    * sidecar built
    * from a scan of ONLY the key column (column-pruned parquet read).
    * Idempotent and safe to run any time — referenced dirs never
    * change after publish, so a sidecar is built once and
    * stays valid for the dir's lifetime; the prune/vacuum deletes it
    * with its dir.
    * Underscore-prefixed sidecars are invisible to Spark's file
    * listing, so normal reads are unaffected. Concurrent indexers
    * write identical bits (Bloom insertion is order-independent and
    * Spark's sketch hashes are fixed-seed), so the tmp+rename race is
    * benign. At 100 TB this is the off-critical-path index build: the
    * publish stays lean, and a nightly indexer touches only the new
    * batch dirs' key columns. Returns the number of filters built.
    *
    * When the un-indexed dirs' parquet files total at most
    * `DriverPath.DriverStoreBytes` and the key type is one the bloom
    * aggregate takes, the key column is read on the driver
    * (`Bridge.readLocalParquet`) and each dir's filter built there by
    * the same `BloomFilterAggregate` calls a job would make (same
    * sizing, same updater), so the sidecar bytes are those of the
    * one-job build and no job runs. Above the bound, one job builds
    * them all ([[bloomsInOneJob]]). */
  def indexBatchKeys(spark: SparkSession, tableDir: String, keyCol: String,
      fpp: Double = 0.01): Int =
    indexBatchKeys(spark, tableDir, keyCol, fpp, mayUseDriver = true)

  /** [[indexBatchKeys]], with the driver build off when `mayUseDriver`
    * is false: the one-job build the driver build must agree with. */
  private[sources] def indexBatchKeys(spark: SparkSession, tableDir: String, keyCol: String,
      fpp: Double, mayUseDriver: Boolean): Int = {
    val fs = fsOf(spark, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val todo = unindexedBatchDirs(fs, root, s"_keybloom-$keyCol")
    if (todo.isEmpty) return 0
    // sizing WITHOUT a count job: parquet footer row counts, read
    // driver-side from metadata only — the old shape scanned each
    // dir's key column once to COUNT and once more to build, plus one
    // driver-serialized Spark job pair per dir
    val conf = spark.sparkContext.hadoopConfiguration
    val footers = todo.map { dir =>
      footerStats(fs, conf, new org.apache.hadoop.fs.Path(root, dir))
    }
    // schema-evolution guard: a dir whose files LACK the key column
    // must fail LOUDLY like the per-dir build would (the bulk scan's
    // union schema would otherwise read it as null and write an empty
    // bloom — keyed lookups would then silently SKIP that dir's rows)
    requireColumnEverywhere(todo, footers, keyCol, "indexBatchKeys")
    val firstSchema = footers.collectFirst { case f if f.schemas.nonEmpty => f.schemas.head }
    val onDriver =
      if (mayUseDriver) bloomsOnDriver(spark, footers, firstSchema, keyCol, fpp) else None
    val blooms = onDriver.getOrElse(
      bloomsInOneJob(spark, tableDir, todo, footers, firstSchema, keyCol, fpp))
    todo.zip(blooms).foreach { case (dir, bloom) =>
      writeSidecar(fs, new org.apache.hadoop.fs.Path(root, dir),
        s"_keybloom-$keyCol")(out => bloom.writeTo(out))
    }
    todo.size
  }

  /** The bloom filter aggregate [[bloomsInOneJob]] runs for a dir of
    * `rows` rows, over `child`: sized from the footer row count. */
  private def bloomAggregate(child: org.apache.spark.sql.catalyst.expressions.Expression,
      rows: Long, fpp: Double) = {
    val items = math.max(rows, 1L)
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(child,
      org.apache.spark.sql.catalyst.expressions.Literal(items),
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp)), 0, 0)
  }

  /** A dir's filter from the aggregate's result: a dir whose aggregate
    * saw no non-null key (zero rows) gets an empty filter of the same
    * requested size. */
  private def bloomOf(bytes: Option[Array[Byte]], rows: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    bytes.fold(org.apache.spark.util.sketch.BloomFilter.create(math.max(rows, 1L), fpp))(b =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))

  /** Every dir's filter from ONE Spark job: a single scan of the
    * un-indexed dirs with one bloom_filter_agg PER DIR (each sized
    * exactly as the per-dir build would be, each fed only its dir's
    * rows via a null-gated child — aggregate updates skip nulls).
    * Insertion is commutative, so the bits are byte-identical to the
    * serial per-dir stat.bloomFilter build, which rides the SAME
    * BloomFilterAggregate expression underneath. The scan carries the
    * footer-derived schema (no inference job) and a recursive file
    * lookup (no partition discovery — the partition column is not
    * needed, underscore sidecars are filtered by Spark's listing
    * rules), so the WHOLE build is one non-adaptive aggregation job. */
  private def bloomsInOneJob(spark: SparkSession, tableDir: String,
      dirs: Seq[String], footers: Seq[Footers],
      firstSchema: Option[org.apache.parquet.schema.MessageType], keyCol: String,
      fpp: Double): Seq[org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.spark.sql.functions.{col, when, lit}
    val scan = bulkScan(nonAdaptive(spark), tableDir, dirs, firstSchema, keyCol)
    val aggs = dirs.zip(footers).map { case (dir, f) =>
      Bridge.column(bloomAggregate(Bridge.expression(when(col("_bdir") === lit(dir),
        col(keyCol))), f.rows, fpp).toAggregateExpression()).as(dir)
    }
    val row = scan.agg(aggs.head, aggs.tail: _*).head()
    footers.indices.map(i =>
      bloomOf(if (row.isNullAt(i)) None else Some(row.getAs[Array[Byte]](i)), footers(i).rows, fpp))
  }

  /** Every dir's filter built on the driver: the key column of the
    * footers' files read by [[scanOnDriver]], fed per dir to the
    * aggregate [[bloomsInOneJob]] runs, through its own buffer, update
    * and result calls. None when no dir holds a data file, when the
    * files exceed `DriverPath.DriverStoreBytes`, or when the aggregate
    * does not take the key's type (the job then runs, or fails on it as
    * loudly as before). */
  private def bloomsOnDriver(spark: SparkSession, footers: Seq[Footers],
      firstSchema: Option[org.apache.parquet.schema.MessageType], keyCol: String,
      fpp: Double): Option[Seq[org.apache.spark.util.sketch.BloomFilter]] = {
    import org.apache.spark.sql.types.StructField
    val key = firstSchema.map(m => org.apache.spark.sql.catalyst.expressions.BoundReference(0,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter()
        .convert(m)(keyCol).dataType, true))
    key.filter(bloomAggregate(_, 1L, fpp).checkInputDataTypes().isSuccess).flatMap { k =>
      val required = StructType(Seq(StructField(keyCol, k.dataType)))
      // one scan per dir: its rows feed its own filter
      val scans = footers.map(f => Bridge.LocalParquetScan(
        f.files.map(st => Bridge.ParquetFile(st.getPath, st.getLen, InternalRow.empty)),
        required, StructType(Nil), Map.empty))
      scanOnDriver(spark, scans, graft.operators.DriverPath.DriverStoreBytes).map { perDir =>
        footers.zip(perDir).map { case (f, rows) =>
          val agg = bloomAggregate(k, f.rows, fpp)
          val bloom = rows.foldLeft(agg.createAggregationBuffer())(agg.update)
          bloomOf(Option(agg.eval(bloom).asInstanceOf[Array[Byte]]), f.rows, fpp)
        }
      }
    }
  }

  /** Round-9 shape of [[indexBatchKeys]] (serial driver loop, one
    * count + one build job per dir) — kept for the differential spec
    * that pins the bulk build byte-identical. */
  private[sources] def indexBatchKeysSerial(spark: SparkSession, tableDir: String,
      keyCol: String, fpp: Double = 0.01): Int = {
    val fs = fsOf(spark, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    if (!fs.exists(root)) return 0
    val referenced = liveManifest(fs, root).map(_.entries.map(topSegmentOf).toSet)
    var built = 0
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("b-") &&
          referenced.forall(_.contains(st.getPath.getName))) {
        val sidecar = new org.apache.hadoop.fs.Path(st.getPath, s"_keybloom-$keyCol")
        if (!fs.exists(sidecar)) {
          val keyed = spark.read.parquet(st.getPath.toString).select(keyCol)
          val bloom = keyed.stat.bloomFilter(keyCol,
            math.max(keyed.count(), 1L), fpp)
          writeSidecar(fs, st.getPath, s"_keybloom-$keyCol")(out => bloom.writeTo(out))
          built += 1
        }
      }
    }
    built
  }

  /** The batch dirs the live manifest references that lack
    * `sidecarName`, sorted; none for a table with no claim. Only
    * referenced dirs: a replaced/retired dir awaiting prune is
    * unreachable to readers, so a sidecar for it is a wasted full scan
    * (a compaction that re-sidecared the just-dropped base measured
    * 72 s vs 23 s). */
  private def unindexedBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, sidecarName: String): Seq[String] =
    liveManifest(fs, root).toSeq.flatMap(_.entries.map(topSegmentOf)).distinct.sorted
      .filterNot(d => fs.exists(new org.apache.hadoop.fs.Path(root, s"$d/$sidecarName")))

  /** Exact row count (and EVERY file's parquet schema) of every
    * parquet file under `dir` (recursive, hidden/sidecar files
    * skipped) from FOOTER METADATA only — no Spark job, no data read.
    * The count equals the count() the serial builder paid a scan for.
    * All schemas are kept (not just the first file's) so the
    * schema-evolution guard can catch INTRA-dir drift: a dir whose
    * later files lack the indexed column must fail as loudly as one
    * whose first file does. */
  private def footerStats(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path): Footers = {
    var total = 0L
    val schemas = scala.collection.mutable.ArrayBuffer.empty[org.apache.parquet.schema.MessageType]
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    // depth-first in listing order, as listFiles(dir, true) walks, but
    // through listStatus: listFiles builds a LocatedFileStatus, which
    // asks every entry for its permission — a forked `ls -ld` per file
    // on a local filesystem without the native Hadoop library
    def visit(p: org.apache.hadoop.fs.Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) visit(st.getPath)
      else if (isDataFile(st.getPath.getName)) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try {
          total += reader.getRecordCount
          schemas += reader.getFileMetaData.getSchema
          files += st
        } finally reader.close()
      }
    }
    visit(dir)
    Footers(total, schemas.toSeq, files.toSeq)
  }

  /** What [[footerStats]] read of one dir: its row count, every data
    * file's parquet schema, and the files themselves. */
  private[sources] final case class Footers(rows: Long,
      schemas: Seq[org.apache.parquet.schema.MessageType],
      files: Seq[org.apache.hadoop.fs.FileStatus]) {
    def bytes: Long = files.map(_.getLen).sum
  }

  /** One tagged scan over all `dirs`: footer-derived schema (no
    * inference job), recursive file lookup (no partition discovery —
    * dirs with k=v subdirs read fine because only `wantedCol` is
    * selected), dir tag parsed from the file path. */
  private def bulkScan(spark: SparkSession, tableDir: String, dirs: Seq[String],
      firstSchema: Option[org.apache.parquet.schema.MessageType],
      wantedCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val reader = spark.read.option("recursiveFileLookup", "true")
    val withSchema = firstSchema.map { m =>
      reader.schema(
        new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter()
          .convert(m))
    }.getOrElse(reader)
    // tag = which of `dirs` the file lives under. An alternation of
    // the QUOTED dir names (leftmost path match wins, so a b-dir's
    // nested `col=val` subdir can never shadow its batch dir; the
    // trailing '/' stops prefix-name shadowing).
    val dirAlt = dirs.map(java.util.regex.Pattern.quote).mkString("|")
    withSchema.parquet(dirs.map(d => s"$tableDir/$d"): _*)
      .select(regexp_extract(input_file_name(), s"/($dirAlt)/", 1).as("_bdir"),
        col(wantedCol))
  }

  /** A clone of `spark` with adaptive execution OFF: AQE splits a
    * single aggregation into per-stage jobs, and a bulk index build
    * promises ONE job regardless of dir count. The flag is set on the
    * clone's own conf, so index builds running concurrently on the
    * family pool change nothing that any other query plans with. */
  private def nonAdaptive(spark: SparkSession): SparkSession = {
    val s = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Loud schema-evolution check for the bulk index builders: EVERY
    * parquet file of every dir that HAS data must carry `colName`,
    * and carry it at ONE parquet type across all files and dirs —
    * otherwise the union scan would read nulls (missing column) or
    * coerced values (type drift) where the serial per-dir build
    * fails, and the resulting sidecar would make pruned reads
    * silently skip or mis-prune real rows. Checks all footers
    * already opened by [[footerStats]], so intra-dir drift (a LATER
    * file missing the column) is caught, not just the first file. */
  private def requireColumnEverywhere(dirs: Seq[String],
      stats: Seq[Footers],
      colName: String, caller: String): Unit = {
    var refType: Option[String] = None
    dirs.zip(stats).foreach { case (dir, Footers(rows, schemas, _)) =>
      if (rows > 0) schemas.foreach { m =>
        val idx = (0 until m.getFieldCount).find(i => m.getType(i).getName == colName)
        require(idx.isDefined,
          s"$caller: a parquet file in batch dir '$dir' has no column '$colName' " +
            "(schema evolution?) — refusing to write a sidecar that would " +
            "make pruned reads skip its rows")
        // repetition (required vs optional) is benign nullability, not
        // drift — compare the physical type + logical annotation only
        val ft = m.getType(idx.get)
        val t =
          if (ft.isPrimitive)
            ft.asPrimitiveType().getPrimitiveTypeName.toString +
              Option(ft.getLogicalTypeAnnotation).map(":" + _.toString).getOrElse("")
          else ft.toString.replaceFirst("^(required|optional|repeated) ", "")
        refType match {
          case None => refType = Some(t)
          case Some(r) => require(r == t,
            s"$caller: column '$colName' changes parquet type across files " +
              s"(saw '$r', then '$t' in batch dir '$dir') — refusing to index " +
              "across a type drift the union scan would silently coerce")
        }
      }
    }
  }

  /** tmp-write + rename of a batch-dir sidecar (concurrent indexers
    * write identical bits, so the rename race is benign). */
  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, name: String)(
      write: java.io.OutputStream => Unit): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try write(out) finally out.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, name)))
      deleteQuiet(fs, tmp, false)
  }

  /** Compaction for [[publishMergePartitioned]] tables: rewrite the
    * latest committed state into one fresh batch dir (one file per
    * partition via a partition-column repartition) and commit a
    * manifest in which that dir replaces every compacted entry; the
    * standard claim-anchored retention then reclaims the old batch
    * dirs after two more publishes. Content is bit-identical —
    * compaction exists because per-batch MERGE publishes accrete a
    * batch dir per publish, and at 100 TB the manifest's dir fan-out
    * (footer reads, sidecar opens, task scheduling) degrades scans
    * long before data volume does.
    *
    * It commits through the same claimed `commit-<n>` protocol as
    * every other merge publish ([[claimMergeManifest]]): a rival that
    * adds a partition this compaction did not read rebases in beside
    * it; a rival that changed a compacted partition after the read
    * makes compaction refuse with `ConcurrentModificationException`
    * (its batch dir is reclaimed), so no committed batch is ever
    * folded away. Index sidecars are not carried over — the idempotent
    * indexers rebuild them for the new dir on their next run. Returns
    * the number of partition dirs written (0 = empty table, nothing to
    * do). */
  def compactMergePartitioned(spark: SparkSession, tableDir: String,
      partitionCol: String): Int = {
    import org.apache.spark.sql.functions.col
    commitMergeBatch(spark, tableDir, partitionCol) { basis =>
      assembleManifest(spark, tableDir, basis).map { state =>
        MergeBatch(state.schema, dir => {
          state.repartition(col(partitionCol)).write.mode(SaveMode.Overwrite)
            .partitionBy(partitionCol).parquet(dir)
          None
        }, _ => basis.entries.map(segmentOf).toSet, _.size)
      }
    }.getOrElse(0)
  }

  // ---- zone-map sidecars: dir-level min/max for range skipping ----

  /** Comparable driver-side key for zone-map bounds. Strings compare
    * by UTF-8 bytes (Spark's binary string order — Java
    * `String.compareTo` diverges on supplementary characters, which
    * would turn a skip into a wrong answer). Timestamps floor-divide
    * to micros so pre-epoch values stay correct; dates are epoch
    * days. */
  private def zoneKey(v: Any): (String, Either[Long, Either[Double, Array[Byte]]]) = v match {
    case l: Long    => ("long", Left(l))
    case i: Int     => ("long", Left(i.toLong))
    case s: Short   => ("long", Left(s.toLong))
    case b: Byte    => ("long", Left(b.toLong))
    case d: Double  => ("double", Right(Left(d)))
    case f: Float   => ("double", Right(Left(f.toDouble)))
    case s: String  => ("string", Right(Right(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    case t: java.sql.Timestamp =>
      ("timestamp", Left(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L))
    case d: java.sql.Date => ("date", Left(d.toLocalDate.toEpochDay))
    case other => throw new IllegalArgumentException(
      s"zone map does not support ${other.getClass.getName}")
  }

  private def zoneLeq(a: Either[Long, Either[Double, Array[Byte]]],
      b: Either[Long, Either[Double, Array[Byte]]]): Boolean = (a, b) match {
    case (Left(x), Left(y)) => x <= y
    case (Right(Left(x)), Right(Left(y))) => x <= y
    case (Right(Right(x)), Right(Right(y))) =>
      java.util.Arrays.compareUnsigned(x, y) <= 0
    case _ => throw new IllegalArgumentException("zone-map type mismatch")
  }

  private def zoneRepr(tag: String, k: Either[Long, Either[Double, Array[Byte]]]): String =
    k match {
      case Left(l) => l.toString
      case Right(Left(d)) => java.lang.Double.doubleToRawLongBits(d).toString
      case Right(Right(b)) => java.util.Base64.getEncoder.encodeToString(b)
    }

  private def zoneParse(tag: String, s: String): Either[Long, Either[Double, Array[Byte]]] =
    tag match {
      case "long" | "timestamp" | "date" => Left(s.toLong)
      case "double" => Right(Left(java.lang.Double.longBitsToDouble(s.toLong)))
      case "string" => Right(Right(java.util.Base64.getDecoder.decode(s)))
      case t => throw new IllegalArgumentException(s"unknown zone-map type $t")
    }

  /** Build per-batch-dir min/max zone maps: every immutable batch dir
    * lacking one gets a `_zonemap-<col>` sidecar (type tag + min +
    * max from a column-pruned scan; `empty` for an all-null dir).
    * Same operational contract as [[indexBatchKeys]] — idempotent,
    * off the publish critical path, dies with its dir — but for RANGE
    * predicates: the "Modified > last_sync" incremental pull over a
    * merge table skips every batch dir whose max is below the
    * watermark without opening a single parquet footer. Zone maps
    * have no false positives, so skipping is deterministic. */
  def indexBatchStats(spark: SparkSession, tableDir: String, statCol: String): Int = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin, col}
    val fs = fsOf(spark, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val todo = unindexedBatchDirs(fs, root, s"_zonemap-$statCol")
    if (todo.isEmpty) return 0
    // ONE map-side-combined job over all un-indexed dirs (vs the old
    // one-aggregation-job-per-dir driver loop): (dir, min, max) rows,
    // one per dir, collected driver-side — dir count, never data
    val conf = spark.sparkContext.hadoopConfiguration
    val footers = todo.map { d =>
      footerStats(fs, conf, new org.apache.hadoop.fs.Path(root, d))
    }
    // same loud schema-evolution guard as the bloom builder: an
    // all-null zonemap from a missing column would mark the dir
    // 'empty' and range scans would silently skip its rows
    requireColumnEverywhere(todo, footers, statCol, "indexBatchStats")
    val grouped = bulkScan(nonAdaptive(spark), tableDir, todo,
      footers.collectFirst { case f if f.schemas.nonEmpty => f.schemas.head }, statCol)
      .groupBy("_bdir")
      .agg(fmin(col(statCol)).as("_lo"), fmax(col(statCol)).as("_hi"))
    val stats = grouped.collect()
      .map(r => r.getString(0) -> ((r.get(1), r.get(2)))).toMap
    todo.foreach { dir =>
      val body = stats.get(dir) match {
        case Some((lo, _)) if lo == null => "empty"
        case None => "empty" // zero-row dir contributes no group
        case Some((lo, hi)) =>
          val (tag, l) = zoneKey(lo)
          val (_, h) = zoneKey(hi)
          s"$tag\n${zoneRepr(tag, l)}\n${zoneRepr(tag, h)}"
      }
      writeSidecar(fs, new org.apache.hadoop.fs.Path(root, dir),
        s"_zonemap-$statCol")(out => out.write(body.getBytes("UTF-8")))
    }
    todo.size
  }

  /** Round-9 shape of [[indexBatchStats]] (serial per-dir jobs) —
    * kept for the byte-identity differential spec. */
  private[sources] def indexBatchStatsSerial(spark: SparkSession, tableDir: String,
      statCol: String): Int = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin, col}
    val fs = fsOf(spark, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    if (!fs.exists(root)) return 0
    var built = 0
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("b-")) {
        val sidecar = new org.apache.hadoop.fs.Path(st.getPath, s"_zonemap-$statCol")
        if (!fs.exists(sidecar)) {
          val row = spark.read.parquet(st.getPath.toString)
            .agg(fmin(col(statCol)), fmax(col(statCol))).head()
          val body =
            if (row.isNullAt(0)) "empty"
            else {
              val (tag, lo) = zoneKey(row.get(0))
              val (_, hi) = zoneKey(row.get(1))
              s"$tag\n${zoneRepr(tag, lo)}\n${zoneRepr(tag, hi)}"
            }
          writeSidecar(fs, st.getPath, s"_zonemap-$statCol")(
            out => out.write(body.getBytes("UTF-8")))
          built += 1
        }
      }
    }
    built
  }

  /** Range scan over a [[publishMergePartitioned]] table that skips
    * every batch dir whose `_zonemap-<col>` sidecar (see
    * [[indexBatchStats]]) proves no row can satisfy
    * `lower <= col <= upper` (either bound optional, both
    * inclusive). Exactly equivalent to
    * `readMergePartitioned(...).filter(...)`: a missing sidecar is
    * read, an `empty` (all-null) dir is skipped — null never
    * satisfies a range predicate — and overlap is decided with the
    * same orderings Spark uses (binary UTF-8 for strings). */
  def readMergePartitionedRange(spark: SparkSession, tableDir: String,
      partitionCol: String, statCol: String,
      lower: Option[Any], upper: Option[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = fsOf(spark, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val m = readableManifest(spark, tableDir)
    val lo = lower.map(zoneKey)
    val hi = upper.map(zoneKey)
    val kept = m.entries.groupBy(topSegmentOf).toSeq.sortBy(_._1).flatMap {
      case (top, es) =>
        val sidecar = new org.apache.hadoop.fs.Path(root, s"$top/_zonemap-$statCol")
        val overlaps = readControl(fs, sidecar) match {
          case None => true // unindexed: read
          case Some("empty") => false
          case Some(body) =>
            val Array(tag, minS, maxS) = body.split("\n", 3)
            val dirLo = zoneParse(tag, minS)
            val dirHi = zoneParse(tag, maxS)
            // no overlap iff dirHi < lower or upper < dirLo
            lo.forall { case (_, l) => zoneLeq(l, dirHi) } &&
              hi.forall { case (_, u) => zoneLeq(dirLo, u) }
        }
        if (overlaps) es else Nil
    }
    val bounded = (df: DataFrame) => {
      val afterLo = lower.map(v => df.filter(col(statCol) >= lit(v))).getOrElse(df)
      upper.map(v => afterLo.filter(col(statCol) <= lit(v))).getOrElse(afterLo)
    }
    assembleManifest(spark, tableDir, m.withEntries(kept)).map(bounded)
      .getOrElse(emptyRead(spark, m))
  }

  /** Keyed lookup over a [[publishMergePartitioned]] table that skips
    * every batch dir whose `_keybloom-<keyCol>` sidecar (see
    * [[indexBatchKeys]]) excludes ALL requested keys. Exactly
    * equivalent to `readMergePartitioned(...).filter(key isin keys)` —
    * Bloom false positives or a missing sidecar only widen the read
    * set, never the result. The skip test gates only the batch dirs
    * the LIVE manifest still references, so a key whose partition was
    * since rewritten by a newer batch costs at most a stale-positive
    * extra dir scan. At 100 TB this turns a point lookup from
    * read-every-live-dir into open-a-few-KB-sidecars +
    * read-the-one-dir-that-matches. */
  def readMergePartitionedKeyed(spark: SparkSession, tableDir: String,
      partitionCol: String, keyCol: String, keys: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val fs = fsOf(spark, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val m = readableManifest(spark, tableDir)
    val kept = m.entries.groupBy(topSegmentOf).toSeq.sortBy(_._1).flatMap {
      case (top, es) =>
        val sidecar = new org.apache.hadoop.fs.Path(root, s"$top/_keybloom-$keyCol")
        val mayContain =
          // an indexed batch dir skip-tests; unindexed dirs always read
          if (!fs.exists(sidecar)) true
          else {
            val in = fs.open(sidecar)
            val bloom = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
                        finally in.close()
            keys.exists {
              case l: Long   => bloom.mightContainLong(l)
              case i: Int    => bloom.mightContainLong(i.toLong)
              case s: Short  => bloom.mightContainLong(s.toLong)
              case b: Byte   => bloom.mightContainLong(b.toLong)
              case s: String => bloom.mightContainString(s)
              case o         => bloom.mightContain(o)
            }
          }
        if (mayContain) es else Nil
    }
    assembleManifest(spark, tableDir, m.withEntries(kept))
      .map(_.filter(col(keyCol).isin(keys: _*)))
      .getOrElse(emptyRead(spark, m))
  }

  /** Keyed read whose key set is a DATAFRAME — the shape that never
    * collects data-proportionally. Two regimes, picked at runtime by
    * a BOUNDED probe (`limit(maxPointLookup + 1)` — the collect can
    * never exceed maxPointLookup+1 rows regardless of key volume):
    *
    *  - point-lookup (≤ `maxPointLookup` distinct keys): delegate to
    *    [[readMergePartitionedKeyed]] — per-dir bloom sidecars prune
    *    whole batch dirs driver-side, the classic primary-key read;
    *  - bulk (more keys than that): dir pruning can't win (most dirs
    *    match some key), so run the scan with a broadcast
    *    bloom PREFILTER + exact semi-join against the keys frame
    *    ([[graft.operators.BloomJoin]]) — rows drop before the
    *    shuffle, the key set never visits the driver.
    *
    * Same result either way (both are exact key membership). */
  def readMergePartitionedKeyedFrame(spark: SparkSession, tableDir: String,
      partitionCol: String, keyCol: String, keys: DataFrame,
      maxPointLookup: Int = 8192, bulkFpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(maxPointLookup >= 1, s"maxPointLookup must be >= 1, got $maxPointLookup")
    val distinctKeys = keys.select(col(keyCol)).distinct()
    val probe = distinctKeys.limit(maxPointLookup + 1).collect()
    if (probe.length <= maxPointLookup)
      readMergePartitionedKeyed(spark, tableDir, partitionCol, keyCol,
        probe.map(_.get(0)).toSeq)
    else {
      // size the bloom from the true key count (a distributed agg on
      // the keys frame — one long to the driver, never the keys)
      val nKeys = distinctKeys.count()
      graft.operators.BloomJoin.semiJoin(
        readMergePartitioned(spark, tableDir, partitionCol), keyCol,
        distinctKeys, keyCol,
        expectedItems = math.max(nKeys, 1L), fpp = bulkFpp)
    }
  }

  /** Operational vacuum for [[publishMergePartitioned]] tables:
    * delete batch dirs referenced by NO manifest once older than
    * `olderThanMs` (default 24 h). Crashed publishers orphan their
    * in-flight batch dirs — the prune's in-flight rule must preserve
    * unreferenced dirs, so the leak is bounded by crash count but
    * never reclaimed; at 100 TB a periodic vacuum is part of
    * operating the table (a table format's VACUUM of uncommitted
    * files). The age threshold keeps live in-flight publishes safe: a
    * publisher stalled past it degrades to the documented lost
    * update. A referenced-dir set read from a vanishing manifest is
    * safe here: only a prune deletes manifests, and its claim
    * arithmetic already adjudicated that manifest's dirs — and any
    * dir young enough to be mid-publish is spared by mtime anyway. A
    * manifest in a format this engine does not read refuses the vacuum
    * ([[parseManifest]]): its references are unknown.
    * Returns the deleted dir names. */
  def vacuumOrphans(spark: SparkSession, tableDir: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val fs = fsOf(spark, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    if (!fs.exists(root)) return Seq.empty
    val referenced = manifestNames(fs, root)
      .flatMap(readManifestOpt(fs, root, _).toSeq.flatMap(_.entries)).map(topSegmentOf).toSet
    val now = System.currentTimeMillis()
    val orphans = fs.listStatus(root).toSeq.filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("b-") &&
        !referenced(st.getPath.getName) &&
        now - st.getModificationTime > olderThanMs
    }
    orphans.foreach(st => deleteQuiet(fs, st.getPath, recursive = true))
    orphans.map(_.getPath.getName)
  }

  /** The format version a merge manifest states on its first line
    * (README, "Storage format"). A manifest stating another version, or
    * none, is refused by every read and every publish. */
  private val ManifestFormat = 1

  /** One merge-table manifest: its file name, the schema each dir group
    * (batch dir) reads under, and its entries, the live partition dirs
    * relative to the table root (`b-<n>-<uid>/<col>=<val>`). */
  private final case class Manifest(name: String, schemas: Map[String, StructType],
      entries: Seq[String]) {
    def withEntries(es: Seq[String]): Manifest = copy(entries = es)

    /** The manifest file: the format-version line, one `schema` line per
      * dir group the entries use (tab-separated; Spark's path escaping
      * leaves no tab in an entry), then the entries. */
    def text: String = {
      val groups = entries.map(groupOf).toSet
      (s"version\t$ManifestFormat" +: schemas.toSeq.filter(g => groups(g._1)).sortBy(_._1)
        .map { case (g, schema) => s"schema\t$g\t${schema.json}" } ++: entries.sorted)
        .mkString("\n")
    }
  }

  private object Manifest {
    val Empty: Manifest = Manifest("", Map.empty, Nil)
  }

  /** Parse manifest `name`'s content; refuses, naming the manifest, one
    * that states no format version or one this engine does not read,
    * and one that lists a root-level dir (a plain layout an earlier
    * build adopted in place). */
  private def parseManifest(root: org.apache.hadoop.fs.Path, name: String,
      content: String): Manifest = {
    val (schemas, entries) = afterVersionLine(s"merge manifest $root/$name", ManifestFormat,
      content).partition(_.startsWith("schema\t"))
    entries.find(!_.contains('/')).foreach(e => throw new IllegalStateException(
      s"merge manifest $root/$name lists root-level dir '$e', a layout adopted by an " +
        "earlier build that this engine does not read — refusing"))
    Manifest(name, schemas.map { line =>
      val Array(_, group, json) = line.split("\t", 3)
      group -> org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
    }.toMap, entries)
  }

  /** The non-empty trimmed lines of a versioned control file (a merge
    * manifest, a snapshot claim, a [[readNumberFile]] file) after its
    * first, format-version line; refuses, naming the file as `what`,
    * content that states no format version or one other than `format`. */
  private def afterVersionLine(what: String, format: Int, content: String): Seq[String] = {
    val lines = content.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    def refuse(why: String) = throw new IllegalStateException(
      s"$what $why; this engine reads format version $format only — refusing a layout " +
        "it does not know")
    lines.headOption.filter(_.startsWith("version\t")).map(_.stripPrefix("version\t")) match {
      case Some(v) if v == format.toString => lines.tail
      case Some(v) => refuse(s"states format version $v")
      case None => refuse("states no format version")
    }
  }

  /** The format version of a control file that holds one number: a
    * change-feed checkpoint's `_version`, an LSM index's `_floor`. */
  private val NumberFileFormat = 1

  /** The content of a [[readNumberFile]] file holding `n`: the
    * format-version line, then the number. */
  private[graft] def numberFileText(n: Long): String = s"version\t$NumberFileFormat\n$n"

  /** The number control file `p` holds ([[numberFileText]]), None when
    * it does not exist. A file that states another format version, none,
    * or no number is refused, naming it. */
  private[graft] def readNumberFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Long] =
    readControl(fs, p).map { text =>
      afterVersionLine(s"control file $p", NumberFileFormat, text) match {
        case Seq(n) if n.toLongOption.isDefined => n.toLong
        case _ => throw new IllegalStateException(s"control file $p holds no number — refusing")
      }
    }

  /** The live manifest ([[committedManifest]]); None when the table
    * holds no claim. */
  private def liveManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Manifest] =
    committedManifest(fs, root).map(_._2)

  /** The live manifest; the empty one for a table with no claim. */
  private def readableManifest(spark: SparkSession, tableDir: String): Manifest =
    latestCommitted(fsOf(spark, tableDir), new org.apache.hadoop.fs.Path(tableDir))._2

  /** A manifest, or None if it vanished (a concurrent pruner deleted it
    * mid-pass). Callers must distinguish the two: for a PROTECTED
    * manifest a vanished read must abort the prune, never silently
    * shrink the protection set. Refused per [[parseManifest]]. */
  private def readManifestOpt(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, name: String): Option[Manifest] =
    readControl(fs, new org.apache.hadoop.fs.Path(root, name)).map(parseManifest(root, name, _))

  /** One DataFrame over a manifest's dirs: one basePath-scan per dir
    * group under the schema the manifest records for it, unioned. None
    * when the manifest lists no dir. */
  private def assembleManifest(spark: SparkSession, tableDir: String,
      m: Manifest): Option[DataFrame] =
    groupFrames(spark, tableDir, m).reduceOption(_ unionByName _)

  /** One scan per dir group of `m` ([[readManifestGroup]]), in group
    * order: what [[assembleManifest]] unions. */
  private def groupFrames(spark: SparkSession, tableDir: String, m: Manifest): Seq[DataFrame] =
    manifestGroups(m.entries).map(readManifestGroup(spark, tableDir, m, _))

  /** What a read of `m` that excludes every dir plans over: no rows,
    * under the schema of `m`'s first dir group (the union keeps its
    * column order); no column when `m` lists no dir. */
  private def emptyRead(spark: SparkSession, m: Manifest): DataFrame =
    manifestGroups(m.entries).headOption.fold(spark.emptyDataFrame) { case (group, _) =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schemas(group))
    }

  private def manifestGroups(entries: Seq[String]): Seq[(String, Seq[String])] =
    entries.groupBy(groupOf).toSeq.sortBy(_._1)

  /** The dir group of a manifest entry: its batch dir. */
  private def groupOf(entry: String): String = entry.substring(0, entry.lastIndexOf('/'))

  /** One dir group's scan, under the schema `m` records for it: no
    * footer read, no inference, and the partition column comes back as
    * written (`p=01` of a string column reads as "01"). */
  private def readManifestGroup(spark: SparkSession, tableDir: String, m: Manifest,
      group: (String, Seq[String])): DataFrame = {
    val (dir, es) = group
    spark.read.option("basePath", s"$tableDir/$dir")
      .schema(recordedSchema(tableDir, m, dir)).parquet(es.map(e => s"$tableDir/$e"): _*)
  }

  /** The schema `m` records for dir group `group`: the one its scan
    * reads under. */
  private def recordedSchema(tableDir: String, m: Manifest, group: String): StructType =
    m.schemas.getOrElse(group, throw new IllegalStateException(
      s"merge manifest $tableDir/${m.name} records no schema for dir group '$group'"))

  /** The schema Spark's parquet inference returns for `dir`, read on
    * the driver from the `org.apache.spark.sql.parquet.row.metadata`
    * key of ONE footer (the key inference itself reads) — inference
    * runs a Spark job on every read, even of one file. Exact only for
    * a dir that ONE DataFrame write produced, whose footers all carry
    * the same schema. None, to keep inference, when the dir holds no
    * parquet file directly or the footer lacks the key. */
  private def writtenSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // through a Path: a partition segment may hold a character a URI
    // may not (Spark's path escaping leaves a space as it is)
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(conf).listStatus(path)
      .find(st => st.isFile && isDataFile(st.getPath.getName)).flatMap { st =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        val json = try Option(reader.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
          finally reader.close()
        json.flatMap(j => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(j)).toOption)
          .collect { case s: StructType => s }
      }
  }

  private def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** Read a dir that one DataFrame write produced (a snapshot version
    * or one member of a group version), schema per [[writtenSchema]]. */
  private def readWritten(spark: SparkSession, dir: String): DataFrame =
    writtenSchema(spark, dir).fold(spark.read)(spark.read.schema).parquet(dir)

  private def segmentOf(entry: String): String =
    entry.substring(entry.lastIndexOf('/') + 1)
  private def topSegmentOf(entry: String): String = entry.split("/").head

  private def manifestNames(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case st if st.isFile && st.getPath.getName.startsWith("manifest-") =>
        st.getPath.getName
    }
  // names may carry a "-<uid>" suffix (concurrent-publisher safety) or
  // not (legacy layout) — parse the numeric prefix only
  private def numberOf(name: String, prefix: String): Long = {
    val digits = name.stripPrefix(prefix).takeWhile(_.isDigit)
    if (digits.isEmpty) 0L else java.lang.Long.parseLong(digits)
  }
  /** Sidecar-free small-file write (create or overwrite, parents
    * created). On file:// it goes through java.nio: Hadoop's local
    * FileContext is a ChecksumFs, which writes a `.<name>.crc` beside
    * the file — orphaned when [[atomicReplace]] then moves the file
    * alone, and stale for the file it replaces — and forks a `chmod`
    * per create when the native library is not loaded. Elsewhere it is
    * a FileContext create. Every control file goes through here or
    * [[createExclusive]], so none carries a sidecar. */
  private def writeRaw(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration,
      path: org.apache.hadoop.fs.Path, content: String): Unit =
    if (Option(uri.getScheme).forall(_ == "file")) {
      val target = java.nio.file.Paths.get(path.toUri.getPath)
      java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.write(target, content.getBytes("UTF-8")): Unit
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
      val out = fc.create(path,
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE),
        org.apache.hadoop.fs.Options.CreateOpts.createParent())
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }

  /** Temp-write + atomic rename-over of a small control file (a
    * change-feed checkpoint, an LSM floor).
    *
    * The rename must be ATOMIC-OVERWRITE: readers read the file
    * unlocked. On HDFS, `FileContext.rename(OVERWRITE)` is a single
    * NameNode op. On the local FS Hadoop EMULATES overwrite as
    * delete-then-rename, which leaves a window with no file and throws
    * FileAlreadyExistsException when two writers interleave — so
    * file:// goes through POSIX rename(2) via NIO ATOMIC_MOVE, which
    * replaces in one syscall. */
  private[graft] def atomicReplace(fs: org.apache.hadoop.fs.FileSystem,
      uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration,
      root: org.apache.hadoop.fs.Path, name: String, content: String,
      stamp: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root, s"$name.tmp-$stamp")
    writeRaw(uri, conf, tmp, content)
    val dst = new org.apache.hadoop.fs.Path(root, name)
    if (Option(uri.getScheme).forall(_ == "file"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    else
      org.apache.hadoop.fs.FileContext.getFileContext(uri, conf).rename(
        tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Small-file compaction: rewrite a parquet table dir into
    * ceil(bytes / targetBytes) files via the snapshot swap. Streaming
    * sinks and per-batch MERGE publishes accrete small files; at scale
    * that degrades scan parallelism bookkeeping (footer reads, task
    * scheduling) long before data volume does — periodic compaction is
    * part of operating the table. Returns the output file count. */
  def compact(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val live = resolveSnapshot(spark, tableDir)
    val fs = fsOf(spark, live)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(live)).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    publishSnapshot(spark.read.parquet(live).repartition(n), tableDir)
    n
  }

  /** The format version a snapshot claim states on its first line
    * (README, "Storage format"). A claim stating another version, or
    * none, is refused by every snapshot read, publish, time-travel read
    * and prune. */
  private val SnapshotClaimFormat = 1

  /** The content of the claim that commits snapshot version dir `vdir`:
    * the format-version line, then the dir's name. */
  private def snapshotClaimText(vdir: String): String =
    s"version\t$SnapshotClaimFormat\n$vdir"

  /** The version dir snapshot claim `n` (content `content`) names.
    * Refuses, naming the claim, one that states no format version, one
    * this engine does not read, or one that names no version dir. */
  private def claimedDir(root: org.apache.hadoop.fs.Path, n: Long, content: String): String = {
    val what = s"snapshot claim $root/${claimPath(root, n).getName}"
    afterVersionLine(what, SnapshotClaimFormat, content) match {
      case Seq(v) if v.startsWith("v-") => v
      case _ => throw new IllegalStateException(s"$what names no version dir — refusing")
    }
  }

  /** The committed version of a snapshot table (or GROUP): the number
    * of its highest claim and the version dir it names
    * ([[resolveClaim]]); None when the root holds no claim. */
  private def committedSnapshot(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(Long, String)] =
    resolveClaim(fs, root, merge = false)((n, content) => Some(claimedDir(root, n, content)))

  /** The transactional READ BASIS of a snapshot table (or GROUP): its
    * committed version, the number of its highest claim (0 = never
    * published). Take it BEFORE reading the content a publish derives
    * from, and pass it back as `basis` to [[publishSnapshot]] /
    * [[publishSnapshotGroup]]: the publish claims exactly the number
    * after it, so a rival that commits after this moment — however
    * early its own write began — has taken that number first, and the
    * publish refuses. One number is the whole basis, because a commit
    * is visible exactly when its claim exists: the version a reader
    * resolves is the one this number counts. */
  def snapshotReadBasis(spark: SparkSession, tableRoot: String): Long =
    claimNumbers(fsOf(spark, tableRoot), new org.apache.hadoop.fs.Path(tableRoot))
      .maxOption.getOrElse(0L)

  /** The one commit path of snapshot and snapshot-group publishes
    * (claim-after-write, as merge commits are): take the basis `c` as one
    * committed number (`basis`, or the committed version now), let
    * `write` write the whole version dir `v-<c+1>-<uid>` whose path it
    * is given, then claim `commit-<c+1>` naming it ([[claimNext]]). The
    * claim is the commit: readers resolve the highest claim, so they see
    * the old version or the new one, never a partial dir. Exactly one
    * publisher owns each number, so publishes SERIALIZE — a raced rival
    * REFUSES loudly (`ConcurrentModificationException`). Refuse-and-
    * redrive, never rebase: snapshot content derives from the prior
    * snapshot (the registry fold, the stats delta, a compaction), so
    * committing a loser on top of a rival's commit would publish state
    * derived from a stale snapshot — the caller must re-read and
    * re-derive (the reference serializes the same way through its
    * per-load Postgres txn, table-loader/services/loader.py:102). A
    * lost claim, a write that throws, or a basis claim in an unknown
    * format deletes the publish's own dir before the error propagates;
    * a crash leaves an unclaimed dir, which blocks no publish and which
    * the prune reclaims once another commit holds its number. Then the
    * prune runs. Returns the committed version dir. Every index build
    * commits through here too ([[graft.operators.IndexMaintenance.commitBuild]]). */
  private[graft] def commitSnapshot(spark: SparkSession, tableRoot: String, basis: Option[Long])(
      write: String => Unit): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = new java.net.URI(tableRoot)
    val fs = org.apache.hadoop.fs.FileSystem.get(uri, conf)
    val root = new org.apache.hadoop.fs.Path(tableRoot)
    val c = basis.getOrElse(committedSnapshot(fs, root).fold(0L)(_._1))
    val vdir = f"v-${c + 1}%012d-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new org.apache.hadoop.fs.Path(root, vdir)
    def lost() = new java.util.ConcurrentModificationException(
      s"snapshot publish on $tableRoot: version ${c + 1} was committed by a concurrent " +
        s"publisher after this publish's basis (version $c) was read; re-read and " +
        "re-derive (stale-snapshot write refused, not lost)")
    val won =
      try {
        write(s"$tableRoot/$vdir")
        claimNext(fs, uri, root, c, snapshotClaimText(vdir))((n, text) =>
          claimedDir(root, n, text): Unit)
      } catch { case t: Throwable =>
        try deleteQuiet(fs, dir, recursive = true)
        catch { case s: Throwable => t.addSuppressed(s) }
        // a rival that committed the number first reclaims this dir as
        // soon as its prune runs, which can fail the write mid-way: the
        // publish lost its race either way
        val raced = scala.util.Try(fs.exists(claimPath(root, c + 1))).getOrElse(false)
        throw (if (raced) { val e = lost(); e.addSuppressed(t); e } else t)
      }
    if (!won) {
      deleteQuiet(fs, dir, recursive = true)
      throw lost()
    }
    pruneSnapshotVersions(fs, root)
    s"$tableRoot/$vdir"
  }

  /** Claim-anchored retention for snapshot tables (and GROUPs): version
    * dirs numbered below top−2 go with their claims (claims in ascending
    * order, see [[claimNext]]) — a reader that resolved an older claim
    * may still be scanning, and two committed publishes of slack is the
    * retention window, the same bounded-retention trade a table format's
    * VACUUM makes. Counting the listing instead would let concurrent
    * publishers' written-but-unclaimed versions consume the slack. A
    * version dir `v-<k>-*` whose `commit-<k>` names another dir can never
    * be committed (a publish that loses its claim refuses): it goes at
    * once, with no age test, so a crashed publisher's dir is reclaimed by
    * the prune of the publish that takes its number. Dirs above the
    * highest claim may be in-flight writes and are never touched. The
    * pass deletes nothing, and logs why, when a claim it reads is in a
    * format this engine does not read; it never throws (it runs after a
    * publish already committed). Aged claim temps go alongside. */
  private[sources] def pruneSnapshotVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val listed = fs.listStatus(root).toSeq
    def named(prefix: String, dir: Boolean) = listed.collect {
      case st if st.isDirectory == dir && st.getPath.getName.startsWith(prefix) =>
        numberOf(st.getPath.getName, prefix) -> st.getPath.getName
    }
    val claims = named(CommitPrefix, dir = false).map(_._1)
    if (claims.isEmpty) return
    val top = claims.max
    val dirs = named("v-", dir = true)
    val contested = dirs.groupBy(_._1).collect {
      case (n, ds) if ds.size > 1 && n >= top - 2 && n <= top => n
    }.toSeq
    val committed =
      try (top +: contested).distinct
        .flatMap(n => readControl(fs, claimPath(root, n)).map(claimedDir(root, n, _))).toSet
      catch { case e @ (_: IllegalStateException | _: java.io.IOException) =>
        log.warn(s"snapshot prune on $root deferred: ${e.getMessage}")
        return
      }
    dirs.foreach { case (n, name) =>
      if (n < top - 2 || (contested.contains(n) && !committed(name)))
        deleteQuiet(fs, new org.apache.hadoop.fs.Path(root, name), recursive = true)
    }
    claims.filter(_ < top - 2).sorted.foreach(n =>
      deleteQuiet(fs, claimPath(root, n), recursive = false))
    val now = System.currentTimeMillis()
    listed.foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(ClaimTmpPrefix) &&
          now - st.getModificationTime >= ClaimTmpGraceMs)
        deleteQuiet(fs, st.getPath, recursive = false)
    }
  }

  /** Snapshot-table publish, ATOMIC for readers and SERIALIZED across
    * publishers: versioned-directory layout committed by one claim —
    * the plain-parquet stand-in for the reference's Postgres
    * transaction boundary (`table-loader/services/loader.py:213-234`).
    *
    * Layout: `tableRoot/v-<n>-<uid>/…parquet` plus one `commit-<n>`
    * claim per committed version, naming its dir under a format-version
    * line (README, "Storage format"). The publish writes a NEW version
    * dir in full, then claims the number after its basis
    * ([[commitSnapshot]]): a raced rival refuses loudly with
    * `ConcurrentModificationException`, never a silent lost update.
    * Readers resolve the highest claim ([[readSnapshot]]), so they
    * observe either the old or the new version — never a missing or
    * partially-written table. Live data is never deleted in-line: only
    * versions below the two-publish retention window are pruned, so a
    * reader mid-scan of a prior version keeps its files.
    *
    * `basis`: the [[snapshotReadBasis]] taken BEFORE reading the
    * content this publish derives from — with it, a rival commit
    * between that read and this publish refuses instead of being
    * silently replaced (the transactional read-derive-publish
    * contract; [[graft.operators.IncrementalIdentity]] pins its
    * registry fold with exactly this). Without it the basis is the
    * committed version at publish entry, which still serializes raced
    * publishers but cannot see a rival that landed before entry. */
  def publishSnapshot(df: DataFrame, tableRoot: String, basis: Option[Long] = None): Unit =
    commitSnapshot(df.sparkSession, tableRoot, basis)(writeSnapshotMember(df, _)): Unit

  /** Write one snapshot member into its still-unclaimed version dir.
    * A local relation under [[graft.operators.DriverPath.DriverStoreBytes]]
    * is written from the driver as one parquet file through Spark's
    * own output writer (`Bridge.writeLocalParquet`): no job, no output
    * committer, no `_temporary` rename, and on file:// the dir is made
    * through java.nio (Hadoop's local mkdirs forks a `chmod` per level
    * when the native library is not loaded). Anything else is a
    * `df.write`. Either way the claim after it stays the only commit
    * point ([[commitSnapshot]]). */
  private def writeSnapshotMember(df: DataFrame, dir: String): Unit =
    if (writesOnDriver(df)) Bridge.writeLocalParquet(df, dir): Unit
    else df.write.mode(SaveMode.Overwrite).parquet(dir)

  /** Whether a snapshot publish writes member `df` from the driver
    * ([[writeSnapshotMember]]): a local relation of at most
    * `DriverPath.DriverStoreBytes`. */
  private[graft] def writesOnDriver(df: DataFrame): Boolean =
    graft.operators.DriverPath.isLocal(df) && graft.operators.DriverPath.fits(df)

  /** A member `df` that a snapshot publish wrote from the driver
    * ([[writesOnDriver]]) as a read of the member gives it back: the
    * same rows, in the one file's order, under `df`'s schema made
    * nullable (a file source reads every column nullable). A local
    * relation, so a caller that hands back what it just published need
    * not list, open and plan the member again. */
  private[graft] def asWrittenOnDriver(df: DataFrame): DataFrame =
    graft.operators.DriverPath.localRelation(df.sparkSession, Bridge.nullable(df.schema),
      Bridge.localData(df))

  /** Resolve a snapshot root to its live data directory: the version
    * dir its highest claim names; for a root with no claim (a plain
    * parquet dir) the root itself. */
  def resolveSnapshot(spark: SparkSession, tableRoot: String): String =
    liveVersionDir(spark, tableRoot).getOrElse(tableRoot)

  /** The version dir the highest claim names, None when there is no
    * claim. */
  private def liveVersionDir(spark: SparkSession, tableRoot: String): Option[String] =
    committedSnapshot(fsOf(spark, tableRoot), new org.apache.hadoop.fs.Path(tableRoot))
      .map { case (_, v) => s"$tableRoot/$v" }

  /** Read the live version of a snapshot table published by
    * [[publishSnapshot]] (or a plain parquet dir — same call, which
    * keeps schema inference). */
  def readSnapshot(spark: SparkSession, tableRoot: String): DataFrame =
    liveVersionDir(spark, tableRoot).map(readWritten(spark, _))
      .getOrElse(spark.read.parquet(tableRoot))

  /** Retained snapshot versions, ascending — the live one plus up to
    * two priors (publishSnapshot's retention window): the claimed
    * versions whose claim names a version dir that still exists, the
    * ones time travel reads. */
  def snapshotVersions(spark: SparkSession, tableRoot: String): Seq[Long] = {
    val fs = fsOf(spark, tableRoot)
    val root = new org.apache.hadoop.fs.Path(tableRoot)
    val dirs = listVersions(fs, root).map(_._2.getName).toSet
    claimNumbers(fs, root).sorted.filter(n => claimedVersion(fs, root, n).exists(dirs))
  }

  /** The version dir the claim of snapshot version `n` names — the
    * publish that committed the number — when there is such a claim. */
  private def claimedVersion(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, n: Long): Option[String] =
    readControl(fs, claimPath(root, n)).map(claimedDir(root, n, _))

  /** The dir time travel reads for snapshot version `version`: the one
    * its claim names ([[claimedVersion]]). A missing, never-committed or
    * pruned version is refused, naming the retained ones: never a
    * same-numbered dir the claim does not name, such as the partial
    * leftover of a failed publish. */
  private def versionDir(spark: SparkSession, tableRoot: String, version: Long): String = {
    val fs = fsOf(spark, tableRoot)
    val root = new org.apache.hadoop.fs.Path(tableRoot)
    claimedVersion(fs, root, version)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(root, v)))
      .map(v => s"$tableRoot/$v")
      .getOrElse(throw new IllegalArgumentException(s"version $version of $tableRoot not " +
        s"retained or never committed (have: ${snapshotVersions(spark, tableRoot).mkString(",")})"))
  }

  /** Time travel: read a specific RETAINED version (see
    * [[snapshotVersions]]) — what lets a long job pin the table state
    * it started from across concurrent publishes, and an audit re-read
    * the pre-load state. Reads the dir the version's claim names, and
    * fails loudly when the version was pruned or never committed. */
  def readSnapshotVersion(spark: SparkSession, tableRoot: String,
      version: Long): DataFrame =
    readWritten(spark, versionDir(spark, tableRoot, version))

  /** True if the snapshot root exists (a committed table or a plain
    * parquet dir) — the existence probe incremental consumers use.
    * Only an absent root reads as false: any other error while probing
    * propagates, so a caller never takes an unreadable table for an
    * absent one and republishes it holding only its new batch. */
  def snapshotExists(spark: SparkSession, tableRoot: String): Boolean =
    fsOf(spark, tableRoot).exists(new org.apache.hadoop.fs.Path(tableRoot))

  /** Multi-frame snapshot publish, ATOMIC across ALL members: the
    * [[publishSnapshot]] mechanics generalized to a GROUP of frames
    * that must evolve together — an identity registry's subjects +
    * local_ids, a model's weights + vocab. Every member is written
    * under ONE new version dir
    * (`tableRoot/v-<n>-<uid>/<member>/…parquet`) and the single claim
    * is taken only after the LAST member is fully written, so a reader
    * can never observe member states from different versions — the torn
    * window a per-member snapshot pair leaves open (crash between the
    * two commits ⇒ subjects from version N beside local_ids from N−1,
    * which re-mints duplicate subject rows on the next incremental
    * identity cycle). A crash mid-publish strands an unclaimed version
    * dir that the prune reclaims once another commit holds its number;
    * the live version is untouched. Commit (claim-after-write, raced
    * rivals refuse loudly — the registry evolution path
    * [[graft.operators.IncrementalIdentity.resolveCycle]] publishes
    * through here, where a double-fired scheduler used to be a whole
    * lost registry update), retention and prune rules are
    * [[publishSnapshot]]'s verbatim, including `basis`. */
  def publishSnapshotGroup(frames: Seq[(String, DataFrame)], tableRoot: String,
      basis: Option[Long] = None): Unit = {
    require(frames.nonEmpty, "publishSnapshotGroup needs at least one member frame")
    frames.foreach { case (member, _) =>
      require(member.nonEmpty && !member.contains("/"),
        s"member name must be a plain dir name, got '$member'")
    }
    // member writes are independent writes into disjoint dirs (jobs,
    // or driver writes for small local relations): run them
    // CONCURRENTLY on the shared family pool (guide §2.6 — the next
    // write's tasks back-fill executors freed by the current write's
    // tail; at gate scale the fixed per-write job overheads overlap).
    // Fail-fast like the sequential loop it replaces: any member's
    // failure propagates before the claim, once every in-flight member
    // write has finished.
    commitSnapshot(frames.head._2.sparkSession, tableRoot, basis) { vdir =>
      graft.operators.IndexMaintenance.inParallel(frames) { case (member, df) =>
        writeSnapshotMember(df, s"$vdir/$member")
      }: Unit
    }: Unit
  }

  /** Read one member frame of the live [[publishSnapshotGroup]]
    * version. All members read against the same resolved claim are
    * mutually consistent only if resolved ONCE — use
    * [[readSnapshotGroupAll]] when more than one member feeds the same
    * computation. */
  def readSnapshotGroup(spark: SparkSession, tableRoot: String,
      member: String): DataFrame =
    readSnapshotGroupAll(spark, tableRoot, Seq(member))(member)

  /** Every member of the live group version, resolved from ONE read of
    * the highest claim — the consistent-view read for multi-member consumers (a
    * publish landing between two separate [[readSnapshotGroup]] calls
    * would hand the caller members from different versions). */
  def readSnapshotGroupAll(spark: SparkSession, tableRoot: String,
      members: Seq[String]): Map[String, DataFrame] = {
    liveVersionDir(spark, tableRoot) match {
      case Some(live) => members.map(m => m -> readWritten(spark, s"$live/$m")).toMap
      case None => members.map(m => m -> spark.read.parquet(s"$tableRoot/$m")).toMap
    }
  }

  /** Time travel over a snapshot GROUP: all members of one RETAINED
    * prior version (see [[snapshotVersions]] — same retention as
    * single-frame snapshots). The audit read the incremental-identity
    * registry needs: "what did subjects AND local_ids look like
    * before cycle N", mutually consistent by construction. Resolves
    * and fails as [[readSnapshotVersion]] does. */
  def readSnapshotGroupVersion(spark: SparkSession, tableRoot: String,
      version: Long, members: Seq[String]): Map[String, DataFrame] = {
    val dir = versionDir(spark, tableRoot, version)
    members.map(m => m -> readWritten(spark, s"$dir/$m")).toMap
  }

  // accepts both the uid-suffixed layout (`v-<n>-<uid>`) and the
  // legacy plain one (`v-<n>`) — numeric prefix only
  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] =
    try fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("v-") =>
        (numberOf(st.getPath.getName, "v-"), st.getPath)
    } catch { case _: java.io.FileNotFoundException => Seq.empty }
}
