package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S4/S5 real path: a DataSourceV2 reader for paginated REST exports
  * (REDCap `record` API, NocoDB `api/v2/tables/.../records` — reference
  * `redcap-pipeline/services/redcap_client.py:73-170`,
  * `table-loader/.../nocodb_client.py:80-107`).
  *
  * The reference pulls pages sequentially on one process; here every
  * page is an [[InputPartition]], so a 1000-page export is fetched by
  * the cluster in parallel and rows never pass through the driver. Column pruning is pushed into the reader (projected
  * before row conversion), which for wide REDCap exports is the
  * difference between shipping 600 fields and the 5 you selected.
  *
  * The page client is pluggable by class name (`client` option): the
  * container this engine is built in has no network, so specs register
  * an in-JVM fake; a production client wraps the HTTP pagination with
  * exactly the same two calls. Clients are instantiated per executor
  * task — like the reference's one-session-per-worker REST pools —
  * so nothing needs to be serializable but the class name.
  */
/** Page-client contract — what a PRODUCTION REDCap/NocoDB HTTP client
  * must provide so it drops into the DSv2 source unchanged:
  *
  *  - `fetchPage(i)` must be DETERMINISTIC and IDEMPOTENT per page
  *    index (offset/limit or stable-cursor pagination): the source
  *    retries failed fetches ([[RestDataSource.RetriesOption]],
  *    exponential backoff) and Spark itself re-runs lost tasks, so a
  *    page may be fetched more than once. Token-chained APIs (cursor
  *    only obtainable from the previous page) should resolve the
  *    token→page map in the client's constructor or expose
  *    offset-based pagination server-side.
  *  - transient failures (HTTP 429/5xx, timeouts) should surface as
  *    exceptions — the source's retry wrapper handles them; permanent
  *    failures (4xx auth/shape) should be thrown as-is after the
  *    retry budget, failing the task loudly.
  *  - rate limiting is the client's concern (the reference throttles
  *    per worker, `redcap_client.py:53-170`): with one client per
  *    executor task, a per-instance limiter yields the same per-worker
  *    shape; cluster-wide budgets need a shared token bucket.
  *  - clients are instantiated per task by CLASS NAME — carry config
  *    via constructor defaults or system properties, not captured
  *    driver state.
  */
trait RestPages {
  /** Full schema of the export. */
  def schema: StructType
  /** Total page count (the reference reads it from the first page's
    * pagination envelope). */
  def pageCount: Int
  /** Fetch one page of rows (0-based). Must be deterministic per page
    * for retries to be safe — same contract as the reference's
    * offset/limit pagination. */
  def fetchPage(i: Int): Seq[Row]
}

object RestDataSource {
  val ClientOption = "client"
  /** Max retries per page fetch (transient-failure budget), default 3. */
  val RetriesOption = "maxRetries"
  /** Initial backoff in ms, doubled per retry, default 100. */
  val BackoffOption = "retryBackoffMs"

  private[sources] def instantiate(className: String): RestPages =
    Class.forName(className).getDeclaredConstructor().newInstance()
      .asInstanceOf[RestPages]

  /** Retry `f` up to `maxRetries` times with exponential backoff —
    * the transient-failure envelope around every page fetch. */
  private[sources] def withRetry[A](maxRetries: Int, backoffMs: Long)(f: => A): A = {
    var attempt = 0
    var delay = backoffMs
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(f)
      catch {
        case e: Throwable =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(delay)
          delay *= 2
      }
    }
    out.get
  }
}

/** Deterministic synthetic page client (4 pages × 25 records) — the
  * in-container stand-in for a REDCap/NocoDB HTTP client (this build
  * environment has no network; a production client implements the same
  * two calls over HTTP). Drives specs and the q_rest_source entry. */
class SyntheticRestPages extends RestPages {
  import org.apache.spark.sql.types._
  override val schema: StructType = StructType(Seq(
    StructField("record_id", StringType), StructField("center_id", IntegerType),
    StructField("age", IntegerType)))
  override val pageCount: Int = 4
  override def fetchPage(i: Int): Seq[Row] =
    (0 until 25).map { j =>
      val n = i * 25 + j
      Row(s"REC-$n", n % 5, 20 + n % 50)
    }
}

class RestDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RestDataSource.instantiate(options.get(RestDataSource.ClientOption)).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RestTable(properties.get(RestDataSource.ClientOption), schema)

  override def supportsExternalMetadata(): Boolean = true
}

private class RestTable(clientClass: String, override val schema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"rest($clientClass)"
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(clientClass, schema,
      options.getInt(RestDataSource.RetriesOption, 3),
      options.getLong(RestDataSource.BackoffOption, 100L))
}

private class RestScanBuilder(clientClass: String, full: StructType,
    retries: Int, backoffMs: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new RestScan(clientClass, full, required, retries, backoffMs)
}

private case class RestInputPartition(page: Int) extends InputPartition

private class RestScan(clientClass: String, full: StructType, required: StructType,
    retries: Int, backoffMs: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"RestScan(client=$clientClass, columns=${required.fieldNames.mkString(",")})"

  // one partition per page — the driver only asks for the page COUNT;
  // page BODIES are fetched on executors
  override def planInputPartitions(): Array[InputPartition] =
    (0 until RestDataSource.withRetry(retries, backoffMs)(
        RestDataSource.instantiate(clientClass).pageCount))
      .map(RestInputPartition(_): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory(clientClass, full, required, retries, backoffMs)
}

private class RestReaderFactory(clientClass: String, full: StructType,
    required: StructType, retries: Int, backoffMs: Long)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val page = partition.asInstanceOf[RestInputPartition].page
    new PartitionReader[InternalRow] {
      private val indices = required.fieldNames.map(full.fieldIndex)
      private val toCatalyst =
        CatalystTypeConverters.createToCatalystConverter(required)
      private val rows = RestDataSource.withRetry(retries, backoffMs)(
        RestDataSource.instantiate(clientClass).fetchPage(page)).iterator
      private var current: InternalRow = _

      override def next(): Boolean =
        if (!rows.hasNext) false
        else {
          val r = rows.next()
          current = toCatalyst(Row.fromSeq(indices.toSeq.map(r.get)))
            .asInstanceOf[InternalRow]
          true
        }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
