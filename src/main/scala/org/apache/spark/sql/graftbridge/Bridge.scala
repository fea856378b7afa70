package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation,
  OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** Minimal accessor for Spark's `private[sql]` Column ↔ Expression
  * bridge, needed to expose custom Catalyst expressions as `Column`s
  * (the supported spark-4 path; `new Column(expr)` was removed), for
  * session cloning, and for reading and writing small parquet files on
  * the driver with Spark's own reader and writer. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session sharing `s`'s SparkContext with its own copy of `s`'s
    * SQL conf, temp views and functions: a conf set on the clone is
    * invisible to `s` and to every other session. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** `df`'s plan as a frame of session `s` (one sharing `df`'s
    * SparkContext, such as a [[cloneSession]] clone): planned and run
    * under `s`'s SQL conf. */
  def inSession(df: DataFrame, s: SparkSession): DataFrame =
    Dataset.ofRows(classic(s), df.queryExecution.logical)

  /** `schema` with every field, nested ones included, nullable: the
    * schema a file source reads under whatever schema it is given. */
  def nullable(schema: StructType): StructType = schema.asNullable

  private def classic(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A frame over `rows`, Catalyst rows of `schema`: a local relation
    * built straight from them (`Dataset.ofRows` over a `LocalRelation`),
    * with none of the conversions to and from external rows that
    * `createDataFrame` makes. Collecting it runs no job. */
  def localRelation(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(classic(spark), LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The rows of `df`, whose optimized plan is a local relation, as
    * Catalyst rows. */
  def localData(df: DataFrame): Seq[InternalRow] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data
      case other => throw new IllegalArgumentException(
        s"a driver-side read of a frame's rows needs a local relation, got ${other.nodeName}")
    }

  /** Write the rows of `df`, whose optimized plan is a local relation,
    * as ONE parquet file in `dir` (made when missing), from the calling
    * thread: Spark's own parquet output writer, prepared exactly as a
    * `df.write.parquet` task prepares it (session conf, codec, the
    * schema footer key), but no job, no output committer and no
    * `_temporary` dir — the file is created at its final name. The
    * name has `df.write`'s shape. On file:// the dir is made through
    * java.nio: Hadoop's local mkdirs forks a `chmod` per level when the
    * native library is not loaded. On failure the partial file is
    * removed and the error rethrown. Returns the file's path. The
    * snapshot publishes write a local-relation member of at most
    * `DriverPath.DriverStoreBytes` through here; the merge-table
    * publish's driver path (a batch of at most `DriverPath.DriverBatchRows`
    * rows against touched partitions of at most `DriverMergeBytes`)
    * writes through [[writeLocalParquetPartitioned]]. */
  def writeLocalParquet(df: DataFrame, dir: String): String = {
    val writer = new LocalWriter(df.sparkSession, df.schema)
    writer.write(dir, localData(df))
  }

  /** [[writeLocalParquet]] laid out as `df.write.partitionBy(partitionCol)`
    * lays it out: one file per value of `partitionCol` in
    * `<dir>/<segment>`, the segment being Spark's own partition path
    * string (`ExternalCatalogUtils.getPartitionPathString` of the value
    * cast to string in the session time zone, so null and "" both land
    * in the `__HIVE_DEFAULT_PARTITION__` sentinel), each file holding
    * the partition-less data schema a `partitionBy` write gives its
    * files. No rows, no dir. On failure every file this call made is
    * removed and the error rethrown (the dirs stay, for the caller to
    * reclaim with its batch dir). Returns the segments written, sorted. */
  def writeLocalParquetPartitioned(df: DataFrame, partitionCol: String,
      dir: String): Seq[String] = {
    val schema = df.schema
    val p = schema.fieldIndex(partitionCol)
    val dataIdx = schema.indices.filter(_ != p)
    val dataTypes = schema.fields.map(_.dataType)
    val tz = Some(df.sparkSession.sessionState.conf.sessionLocalTimeZone)
    val asString = Cast(BoundReference(p, dataTypes(p), nullable = true), StringType, tz)
    val segments = localData(df).groupBy { r =>
      val v = asString.eval(r)
      ExternalCatalogUtils.getPartitionPathString(partitionCol,
        if (v == null) null else v.toString)
    }
    val writer = new LocalWriter(df.sparkSession, StructType(dataIdx.map(schema.fields(_))))
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    try segments.keys.toSeq.sorted.map { seg =>
      written += writer.write(s"${dir.stripSuffix("/")}/$seg", segments(seg).map(r =>
        InternalRow.fromSeq(dataIdx.map(i => r.get(i, dataTypes(i))))))
      seg
    } catch {
      case t: Throwable =>
        written.foreach(f => writer.deleteQuiet(f, t))
        throw t
    }
  }

  /** Spark's parquet output writer for `schema`, set up as one task of
    * a `df.write` job; [[write]] makes one file per call. */
  private final class LocalWriter(session: SparkSession, schema: StructType) {
    private val job = Job.getInstance(
      classic(session).sessionState.newHadoopConfWithOptions(Map.empty))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    private val factory: OutputWriterFactory =
      new ParquetFileFormat().prepareWrite(classic(session), job, Map.empty, schema)
    private val conf: Configuration = job.getConfiguration
    private val ctx: TaskAttemptContext = {
      val jobId = new JobID(
        new java.text.SimpleDateFormat("yyyyMMddHHmmss", java.util.Locale.US)
          .format(new java.util.Date), 0)
      val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, 0), 0)
      conf.set("mapreduce.job.id", jobId.toString)
      conf.set("mapreduce.task.id", attempt.getTaskID.toString)
      conf.set("mapreduce.task.attempt.id", attempt.toString)
      conf.setBoolean("mapreduce.task.ismap", true)
      conf.setInt("mapreduce.task.partition", 0)
      new TaskAttemptContextImpl(conf, attempt)
    }

    def write(dir: String, rows: Iterable[InternalRow]): String = {
      val path = new Path(dir)
      if (Option(path.toUri.getScheme).forall(_ == "file"))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path.toUri.getPath)): Unit
      else path.getFileSystem(conf).mkdirs(path): Unit
      val file = s"${dir.stripSuffix("/")}/part-00000-${java.util.UUID.randomUUID()}-c000" +
        factory.getFileExtension(ctx)
      val writer = factory.newInstance(file, schema, ctx)
      try {
        rows.foreach(writer.write)
        writer.close()
      } catch {
        case t: Throwable =>
          try writer.close() catch { case s: Throwable => t.addSuppressed(s) }
          deleteQuiet(file, t)
          throw t
      }
      file
    }

    def deleteQuiet(file: String, cause: Throwable): Unit = {
      val path = new Path(file)
      try path.getFileSystem(conf).delete(path, false): Unit
      catch { case s: Throwable => cause.addSuppressed(s) }
    }
  }

  /** One parquet file of a driver-side read: its path, byte length and
    * the catalyst values of the partition columns its path encodes. */
  final case class ParquetFile(path: Path, length: Long, partition: InternalRow)

  /** A parquet read to run on the driver: `files`, decoded under
    * `dataSchema`, each row followed by its file's `partitionSchema`
    * values. `options` are the relation's read options. */
  final case class LocalParquetScan(files: Seq[ParquetFile], dataSchema: StructType,
      partitionSchema: StructType, options: Map[String, String]) {
    def bytes: Long = files.map(_.length).sum
    /** The rows' schema: the data columns, then the partition columns. */
    def schema: StructType = StructType(dataSchema.fields ++ partitionSchema.fields)
  }

  /** The read of `df` when its analyzed plan is one parquet file
    * relation (a `spark.read.parquet` frame with no filter or
    * projection over it) whose data schema holds no partition column:
    * its files, with their partition values as the scan types them,
    * from the listing the relation made when the frame was built (no
    * filesystem call). The scan's [[LocalParquetScan.schema]] is then
    * `df.schema`. None for any other plan. */
  def parquetScan(df: DataFrame): Option[LocalParquetScan] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            r.partitionSchema.fieldNames.forall(n => !r.dataSchema.fieldNames.contains(n)) =>
          val files = r.location.listFiles(Nil, Nil).flatMap { d =>
            d.files.map(f => ParquetFile(f.getPath, f.getLen, d.values.copy()))
          }
          Some(LocalParquetScan(files, r.dataSchema, r.partitionSchema, r.options))
        case _ => None
      }
      case _ => None
    }

  /** Read `scan`'s files on the calling thread with Spark's own parquet
    * reader (`ParquetFileFormat.buildReaderWithPartitionValues`, as a
    * file scan task builds it, returning rows rather than columnar
    * batches), projected to `required` (columns of `scan.dataSchema`)
    * followed by the partition values: values decode exactly as a
    * distributed scan decodes them, and no job runs. One row sequence
    * per file, in `scan.files` order. */
  def readLocalParquet(spark: SparkSession, scan: LocalParquetScan,
      required: StructType): Seq[Seq[InternalRow]] = {
    val session = classic(spark)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(session,
      scan.dataSchema, scan.partitionSchema, required, Nil,
      scan.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConfWithOptions(scan.options))
    scan.files.map { f =>
      val rows = read(PartitionedFile(f.partition, SparkPath.fromPath(f.path), 0L, f.length,
        Array.empty[String], 0L, f.length, Map.empty))
      try rows.map(_.copy()).toVector
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
}
