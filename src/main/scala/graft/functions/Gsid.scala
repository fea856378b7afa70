package graft.functions

import java.util.concurrent.ThreadLocalRandom

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Global Subject ID generation + validation (SURVEY.md §2.3 F11-F13).
  *
  * Format (reference `gsid-service/services/gsid_generator.py:12-60`,
  * `docs/developers/architecture/gsid-format.md:8-26`):
  * `GSID-` + 5 base32 chars of epoch-millis (mod 32^5) + 11 base32
  * chars of randomness, alphabet `0123456789ABCDEFGHJKMNPQRSTVWXYZ`
  * (Crockford-like, no I/L/O/U), 21 chars total.
  */
object Gsid {

  val Alphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
  val FormatRegex = "^GSID-[0-9A-HJKMNP-TV-Z]{16}$"

  /** Fixed-length custom-alphabet base32 of a non-negative long
    * (`gsid_generator.py:15-29`). */
  def encodeBase32(num: Long, length: Int): String = {
    require(num >= 0, s"encodeBase32 needs non-negative input, got $num")
    val sb = new Array[Char](length)
    var n = num
    var i = length - 1
    while (i >= 0) {
      sb(i) = Alphabet((n % 32).toInt)
      n /= 32
      i -= 1
    }
    sb.mkString
  }

  /** Driver/executor-side single GSID mint (nondeterministic). */
  def mint(): String = mint(System.currentTimeMillis(),
    ThreadLocalRandom.current().nextLong(1L << 55))

  /** Pure mint from explicit timestamp + entropy — the testable core. */
  def mint(timestampMs: Long, random55: Long): String = {
    val ts = encodeBase32(timestampMs % (1L << 25), 5)
    val rnd = encodeBase32(random55 & ((1L << 55) - 1), 11)
    s"GSID-$ts$rnd"
  }

  /** Column: mint a fresh GSID per row (nondeterministic expression,
    * modeled on Spark's `Uuid`). */
  def generate(): Column = ExpressionUtils.column(GenerateGsid())

  /** Column: deterministic GSID derived from a key column — the seeded
    * variant SURVEY.md §7.2 calls for so differential tests and oracle
    * queries can reproduce minting. Hex digits are a subset of the
    * GSID alphabet, so `GSID-` + 16 upper-hex chars of md5(key) is
    * format-valid and expressible identically in ANSI SQL:
    * `'GSID-' || upper(substr(md5(key),1,16))`. */
  def deterministic(key: Column): Column =
    concat(lit("GSID-"), upper(substring(md5(key), 1, 16)))

  /** [[deterministic]] on the driver: the same md5 over the key's
    * UTF-8 bytes, first 8 bytes as upper-case hex. */
  def deterministic(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02X").mkString("GSID-", "", "")

  /** Column: GSID format validation (F13). */
  def isValid(c: Column): Column = c.rlike(FormatRegex)

  /** Column: fixed-length base32 encode of a long (F12). */
  def base32(c: Column, length: Int): Column =
    ExpressionUtils.column(Base32Encode(ExpressionUtils.expression(c), length))
}

/** Nondeterministic GSID mint — one fresh ID per row. Initialized
  * per-partition like Spark's own `Uuid`/`Rand`; partition index is
  * mixed into the stream so two partitions never share a sequence. */
case class GenerateGsid() extends LeafExpression with Nondeterministic with CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = StringType
  @transient private var rng: java.util.Random = _
  override protected def initializeInternal(partitionIndex: Int): Unit =
    rng = new java.util.Random(System.nanoTime() ^ (partitionIndex.toLong << 32))
  override protected def evalInternal(input: InternalRow): Any =
    UTF8String.fromString(Gsid.mint(System.currentTimeMillis(), rng.nextLong() >>> 9))
  override def prettyName: String = "gen_gsid"
}

/** Fixed-length custom-alphabet base32 of a non-negative long (F12).
  * Fully codegen'd: the generated code calls the static encoder, so
  * the expression participates in whole-stage codegen instead of
  * falling back to interpreted eval. */
case class Base32Encode(child: Expression, length: Int)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Gsid.encodeBase32($c, $length))")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"base32_encode needs BIGINT input, got ${child.dataType.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Gsid.encodeBase32(v.asInstanceOf[Long], length))
  override protected def withNewChildInternal(c: Expression): Base32Encode = copy(child = c)
  override def prettyName: String = "base32_encode"
}
