package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.sources.Sources

/** dedup_corpus: a Zipf-vocabulary corpus with planted copies, near
  * duplicates and one hub template. Each iteration runs the full-corpus
  * MinHash and prefix-Jaccard passes, then `ShardsPerIteration`
  * incremental shards against the growing signature store. */
final class DedupCorpus(ctx: Ctx) extends Workload {
  import DedupCorpus._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val truth = ctx.truth
  private val p = truth.get("params")
  private val n = p.get("n").asInt
  private val threshold = p.get("threshold").asDouble
  private val numHashes = p.get("num_hashes").asInt
  private val bands = p.get("bands").asInt
  private val maxBucket = p.get("max_bucket").asInt
  private val shards: Seq[JsonNode] = truth.get("shards").elements().asScala.toSeq

  // the checks' own copy of the corpus: doc id -> distinct word n-grams
  private lazy val shingles: Map[Long, Set[String]] = {
    val src = scala.io.Source.fromFile(ctx.path("corpus.csv"), "UTF-8")
    try src.getLines().drop(1).map { line =>
      val Array(id, text) = line.split(",", 2)
      id.toLong -> text.trim.split("\\s+").sliding(n).map(_.mkString(" ")).toSet
    }.toMap
    finally src.close()
  }
  private lazy val related: Set[Long] = longs(truth.get("related")).toSet
  private lazy val exactNonHub: Seq[(Long, Long)] = {
    val hub = longs(truth.get("hub")).toSet
    truth.get("exact_pairs").elements().asScala.map(e => e.get(0).asLong -> e.get(1).asLong)
      .filterNot { case (a, b) => hub(a) || hub(b) }.toSeq
  }

  private var dir = ""
  private var corpus: DataFrame = _
  private var nextShard = 0
  private var iterations = 0
  private val passes = new Series
  private val shardOps = new Series

  private def store = s"$dir/signatures"
  private def csv(rel: String): DataFrame =
    Sources.readCsv(spark, ctx.path(rel), Some(DocSchema))

  def seed(d: String): Unit = {
    dir = d
    nextShard = 0
    tracer.op = -1
    corpus = csv("corpus.csv")
    // seed the signature store with the corpus
    Dedup.incrementalMinhashDedup(corpus, "doc_id", "text", store, n, numHashes, bands,
      threshold, maxBucket)
  }

  def warmUp(): Unit = {
    shard(sample = false)
    fullPass(sample = false)
  }

  def loop(deadlineNs: Long): Unit = {
    iterations = 0
    while (nextShard + ShardsPerIteration <= shards.size &&
        (iterations < MinIterations || System.nanoTime() < deadlineNs)) {
      tracer.op = iterations
      fullPass(sample = true)
      for (_ <- 0 until ShardsPerIteration) shard(sample = true)
      iterations += 1
    }
  }

  private def fullPass(sample: Boolean): Unit = {
    val ((mh, pp), t) = Stats.timed {
      val mh = tracer.span("operators.minhash") {
        Dedup.minhashDedup(corpus, "doc_id", "text", n, numHashes, bands, threshold, maxBucket)
          .collect()
      }
      val pp = tracer.span("operators.jaccard_prefix") {
        Dedup.jaccardPairsPrefix(corpus, "doc_id", "text", n, threshold).collect()
      }
      (mh, pp)
    }
    if (sample) passes += t
    if (tracer.enabled) tracer.last("operators.minhash").foreach { sp =>
      // candidates with the workload's parameters, counted outside the span
      val sig = Dedup.minhashSignature(corpus, "doc_id", "text", n, numHashes)
      val cands = Dedup.minhashCandidates(sig, bands, numHashes / bands, maxBucket).count()
      sp.extras("verify_yield") = if (cands > 0) mh.length.toDouble / cands else 0.0
    }
    for ((name, rows) <- Seq("minhash" -> mh, "jaccard_prefix" -> pp))
      ctx.checked(s"$name pairs") {
        val pairs = rows.map(r => r.getAs[Long]("id_a") -> r.getAs[Long]("id_b")).toSeq
        // corrupted: a pair of two documents that share nothing planted
        val unrelated = shingles.keys.filterNot(related).toSeq.sorted.take(2)
        checkPairs(if (ctx.corrupt) pairs :+ (unrelated(0) -> unrelated(1)) else pairs)
      }
  }

  /** Every pair is a true near-duplicate, every non-hub planted copy is
    * found, and no document without a planted relative is paired. */
  private def checkPairs(pairs: Seq[(Long, Long)]): Seq[String] = {
    val low = pairs.filter { case (a, b) => jaccard(a, b) < threshold }
      .map { case (a, b) => f"pair ($a,$b) has Jaccard ${jaccard(a, b)}%.3f" }
    val found = pairs.map { case (a, b) => (a min b) -> (a max b) }.toSet
    val missed = exactNonHub.filterNot { case (a, b) => found((a min b) -> (a max b)) }
      .map(x => s"planted copy $x not found")
    val stray = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.filterNot(related)
      .map(x => s"doc $x has no planted relative but was paired")
    low ++ missed ++ stray
  }

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val common = x.count(y)
    common.toDouble / (x.size + y.size - common)
  }

  private def shard(sample: Boolean): Unit = {
    val s = shards(nextShard)
    nextShard += 1
    val batch = csv(f"shards/shard-${s.get("shard").asInt}%04d.csv")
    val (engine, t) = Stats.timed {
      tracer.span("operators.incr_dedup") {
        Dedup.incrementalMinhashDedup(batch, "doc_id", "text", store, n, numHashes, bands,
          threshold, maxBucket).select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }
    val survivors = if (!ctx.corrupt) engine else engine -- longs(s.get("must_survive")).take(1)
    if (sample) shardOps += t
    ctx.checked(s"shard ${s.get("shard").asInt}") {
      val kept = longs(s.get("must_die")).filter(survivors).map(x => s"copy $x survived")
      val lost = longs(s.get("must_survive")).filterNot(survivors).map(x => s"doc $x removed")
      kept ++ lost
    }
  }

  private def docs: Double = truth.get("docs").asDouble

  def endToEnd(): Map[String, Double] = Map(
    "dedup_docs_per_s" -> docs / Stats.median(passes.wall),
    "dedup_shard_p50_s" -> Stats.median(shardOps.wall))
  def op: Series = shardOps.take(MinIterations * ShardsPerIteration)
  def work: (Series, Double) = (passes.take(MinIterations), docs)
  def samples(): Map[String, Seq[Double]] = passes.export("pass") ++ shardOps.export("shard")
  def inputs(): Map[String, Any] = Map("corpus_docs" -> truth.get("docs").asLong,
    "shard_docs" -> p.get("shard_docs").asLong, "hub_members" -> p.get("hub_members").asLong,
    "iterations" -> iterations, "shards" -> shardOps.size, "input_bytes" -> ctx.inputBytes)
  val spanNames: Seq[String] = Seq("operators.minhash", "operators.jaccard_prefix",
    "operators.incr_dedup")
  val fixedOps: Int = MinIterations
}

object DedupCorpus {
  val MinIterations = 1
  val ShardsPerIteration = 3
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def longs(a: JsonNode): Seq[Long] = a.elements().asScala.map(_.asLong).toSeq
}
