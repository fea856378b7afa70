package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Designed for cluster deployment (the same settings hold at
  * 1000 executors); local[32] is only the test harness shape.
  */
object GraftSession {

  /** Apply engine defaults to a builder. AQE stays on so skewed
    * shuffles re-plan at runtime; ANSI is off because the engine's
    * coercion semantics (SURVEY.md §2.3) are lenient null-on-fail like
    * the reference, and its expressions are regex-guarded anyway. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Parallelism-first coalescing (Spark's default, kept explicit
      // after an A/B): a few-hundred-KB loop frame still collapses to
      // ONE task (total/parallelism falls below minPartitionSize), but
      // a mid-size shuffle keeps ~defaultParallelism tasks instead of
      // being squeezed to ceil(size/advisory) — size-first measured a
      // uniform 1.5-3x wall-clock penalty on every shuffle-bearing
      // query at sf0.1 (post-shuffle work serialized onto 1-3 cores)
      // while buying the tiny-frame loops nothing the lazy-checkpoint
      // + explicit-repartition fixes hadn't already bought.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // Start every shuffle WIDE and let AQE coalesce down, instead of
      // starting at parallelism and letting big partitions outgrow
      // memory: with a static 32, 10× the rows makes every shuffle
      // partition 10× larger, and the sort-heavy plans go superlinear
      // once a partition outgrows cache (q_dedup_jaccard_prefix
      // measured 15.3× wall for 10× rows at sf10). A/B'd at both
      // scales before changing the default (tools.Profile with
      // SPARK_GRAFT_EXTRA_CONF repeats it): at sf10, 8× initial
      // partitions cut the worst query ~2× (105-175 s → 71-81 s) and
      // minhash LSH ~20%; at sf0.1
      // (driver gate scale) every probe was neutral-to-faster —
      // parallelismFirst coalescing absorbs the small-stage overhead.
      // Same principle a cluster deployment uses: initialPartitionNum
      // ≈ 4-8× total cores, AQE owns the runtime shrink.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * 8).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // The generated-class cache defaults to 100 entries; this
      // engine's query surface compiles ~1,500 distinct codegen units
      // (measured via CodegenMetrics, tools.Profile's compilations), so at
      // the default every pass over the suite recompiles ~1,300
      // evicted units (~40 s of serialized driver-side janino work)
      // and even a single heavy query (90 units) can evict itself.
      // 2048 holds the whole workload: zero recompiles on re-run.
      // Cost is a few MB of classes per JVM — negligible on executors.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      // ObjectHashAggregate (every TypedImperativeAggregate: top-k,
      // MG, KMV, KLL, histogram) falls back to SORT-based aggregation
      // after only 128 distinct keys per task by default — the sort
      // path serializes every group buffer and resorts the input, a
      // pure loss for the small per-group state these aggregates keep
      // (a k-row heap, a counter map, a sketch ladder). Measured at
      // sf0.1: q_topk_per_key aggregate stage ~1.25x faster warm (r18,
      // guide §5). The value is session-GLOBAL, so it must bound the
      // WORST per-group buffer, not the top-k heaps it was tuned on
      // (ADVICE r18): a KLL/KMV/histogram ladder can reach a few KB
      // per group, so 64k keys/task caps buffer state at ~130 MB/task
      // worst-case — inside task memory with margin — while still
      // 512x the default; A/B'd vs 262144 at sf0.1: neutral (all
      // gate-scale groupings sit far below both). Beyond it the
      // designed sort fallback engages exactly as stock.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // `events.ts` ships as INT64 TIMESTAMP(NANOS) in some testdata
      // generations, which Spark's reader rejects unless it reads the
      // raw nanos as a long (see Tables.events); a no-op for every other
      // parquet layout. Set here, once, so no read mutates the session.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = 32): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .appName("idhubspark").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
