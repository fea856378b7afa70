package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: read the driver's sf parquet
  * tables and emit a `factor`× larger dataset with the same shapes —
  * the local stand-in for the next TPC-H scale factor, used to MEASURE
  * (not argue) how the heavy queries scale (SCALING.md's sf0.1→sf1
  * ratio table; VERDICT r4 top-next item).
  *
  * Scheme (seedless, reproducible): `factor` shifted copies of every
  * scaling table.
  *
  *  - Key columns shift by `k * span` (span = max key + 1), so key
  *    cardinality grows `factor`× and referential integrity holds
  *    (foreign keys shift by the referenced table's span).
  *  - `region`/`nation` stay fixed (TPC-H semantics); nationkey
  *    references remain valid.
  *  - `documents.text` mutates every 3rd token with a copy suffix for
  *    k > 0: length/Zipf shape is preserved, within-copy near-dup
  *    structure is preserved exactly, and no 3-shingle collides across
  *    copies — so dedup workloads grow linearly in the corpus rather
  *    than inheriting an artificial 10-way duplicate of every doc
  *    (which would quadratically inflate candidate pairs and measure a
  *    different corpus, not a bigger one).
  *  - `embeddings.embedding` rotates by k positions: norms and
  *    coordinate distributions are identical, neighbor structure is
  *    fresh per copy.
  *  - `events` keep their timestamps: a `factor`× denser stream over
  *    the same window is exactly the streaming scale-up.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val in = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // events.ts is INT64 TIMESTAMP(NANOS) parquet (see Tables.events):
    // the session reads it as raw nanos (GraftSession.configure) and it
    // is written back as a plain INT64 — the Tables loaders handle both
    // representations identically

    def read(t: String): DataFrame = spark.read.parquet(s"$in/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).first().getLong(0) + 1
    /** Cross-join each row with k = 0 until factor. */
    def fanned(df: DataFrame): DataFrame =
      df.withColumn("_k", explode(sequence(lit(0L), lit(factor - 1L))))

    // fixed dimensions
    write(read("region"), "region")
    write(read("nation"), "nation")

    val (customer, supplier, part, orders, lineitem, events, documents, embeddings) =
      (read("customer"), read("supplier"), read("part"), read("orders"),
        read("lineitem"), read("events"), read("documents"), read("embeddings"))
    val custSpan = span(customer, "c_custkey")
    val suppSpan = span(supplier, "s_suppkey")
    val partSpan = span(part, "p_partkey")
    val orderSpan = span(orders, "o_orderkey")

    write(fanned(customer)
      .withColumn("c_custkey", col("c_custkey") + col("_k") * custSpan)
      .drop("_k"), "customer")
    write(fanned(supplier)
      .withColumn("s_suppkey", col("s_suppkey") + col("_k") * suppSpan)
      // s_name is the identity fixtures' registry identifier
      // (local_subject_id) and the driver's generator keeps it unique
      // per supplier — shifted copies must re-mint it too, or every
      // identifier arrives as a factor-way duplicate and
      // identifier-keyed merges measure a different (degenerate)
      // workload (q_upsert_local_ids caught this at sf1)
      .withColumn("s_name",
        when(col("_k") === 0, col("s_name"))
          .otherwise(concat(col("s_name"), lit("~"), col("_k"))))
      .drop("_k"), "supplier")
    write(fanned(part)
      .withColumn("p_partkey", col("p_partkey") + col("_k") * partSpan)
      .drop("_k"), "part")
    write(fanned(orders)
      .withColumn("o_orderkey", col("o_orderkey") + col("_k") * orderSpan)
      .withColumn("o_custkey", col("o_custkey") + col("_k") * custSpan)
      .drop("_k"), "orders")
    write(fanned(lineitem)
      .withColumn("l_orderkey", col("l_orderkey") + col("_k") * orderSpan)
      .withColumn("l_partkey", col("l_partkey") + col("_k") * partSpan)
      .withColumn("l_suppkey", col("l_suppkey") + col("_k") * suppSpan)
      .repartition(32)
      .drop("_k"), "lineitem")

    val eventSpan = span(events, "event_id")
    val userSpan = span(events, "user_id")
    write(fanned(events)
      .withColumn("event_id", col("event_id") + col("_k") * eventSpan)
      .withColumn("user_id", col("user_id") + col("_k") * userSpan)
      .repartition(32)
      .drop("_k"), "events")

    val docSpan = span(documents, "doc_id")
    write(fanned(documents)
      .withColumn("doc_id", col("doc_id") + col("_k") * docSpan)
      .withColumn("text",
        when(col("_k") === 0, col("text")).otherwise(concat_ws(" ",
          transform(split(col("text"), " "), (t, i) =>
            when(i % 3 === 0, concat(t, lit("x"), col("_k"))).otherwise(t)))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .drop("_k"), "documents")

    val vecSpan = span(embeddings, "vec_id")
    write(fanned(embeddings)
      .withColumn("vec_id", col("vec_id") + col("_k") * vecSpan)
      .withColumn("embedding",
        transform(sequence(lit(0), size(col("embedding")) - 1),
          i => element_at(col("embedding"),
            ((i + col("_k")) % size(col("embedding"))).cast("int") + 1)))
      .drop("_k"), "embeddings")

    println(s"""{"generated":"$out","factor":$factor}""")
    spark.stop()
  }
}
