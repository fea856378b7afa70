package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.{GraftSession, Tables}
import graft.operators.{Dedup, SkewJoin}

/** Dev-side skew-hardening stress (VERDICT r11 #8): build a ZIPFIAN
  * corpus from an sf tier — hot shingles (a boilerplate prefix shared
  * by 30% of docs) and a hot join key (log-geometric `domain`, ~50%
  * of rows on domain 0) — then drive the dedup, salted-join and AQE
  * paths against it, measuring wall, candidate volume, dropped-bucket
  * caps (the loud-cap ledger) and shuffle spill per phase.
  *
  * Usage: runMain graft.tools.StressSkew [sfDir]
  * Prints one `[skew]` line per measurement for SCALING.md.
  */
object StressSkew {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // spill/shuffle ledger via task metrics — the measurement the
    // plan alone can't show
    val metrics = graft.QueryMetrics.install(spark)
    def mb(b: Long): String = f"${b / 1024.0 / 1024.0}%.0f MB"
    def phase[T](name: String)(body: => T): T = {
      val (r, m) = metrics.measure(body)
      println(f"[skew] $name%-42s wall=${m.wallS}%7.1fs spill_mem=${mb(m.memSpillBytes)}%s " +
        s"spill_disk=${mb(m.diskSpillBytes)} shuffle_write=${mb(m.shuffleWriteBytes)}")
      // clearCache only: the checkpointed corpus/build frames are
      // shared across phases and must survive
      spark.catalog.clearCache()
      r
    }

    // ---- the zipfian corpus -------------------------------------------
    val boiler = "terms of service privacy policy all rights reserved " +
      "contact us about careers copyright twenty twenty four "
    val h = pmod(xxhash64(col("doc_id")), lit(1024))
    // log-geometric hot key: P(domain=k) ~ 2^-(k+1); domain 0 holds ~50%
    val domain = Seq(512, 768, 896, 960, 992, 1008, 1016, 1020, 1022, 1023)
      .zipWithIndex.foldRight(lit(10): org.apache.spark.sql.Column) {
        case ((cut, idx), acc) => when(h < cut, lit(idx)).otherwise(acc)
      }
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(h % 10 < 3, concat(lit(boiler), col("text")))
          .otherwise(col("text")).as("text"),
        domain.cast("int").as("domain"))
      .localCheckpoint(false)
    val n = phase("materialize zipfian corpus")(docs.count())
    val hot = docs.filter(col("domain") === 0).count()
    val boiled = docs.filter(col("text").startsWith("terms of")).count()
    println(s"[skew] corpus: $n docs, hot-domain rows=$hot (${hot * 100 / n}%), " +
      s"boilerplate-prefixed=$boiled (${boiled * 100 / n}%)")

    // ---- dedup family under hot shingles ------------------------------
    val drops0 = Dedup.capEvents.sum()
    val pairs = phase("minhash LSH dedup (Fast, hot shingles)") {
      Dedup.minhashDedup(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5, mode = Dedup.Fast).count()
    }
    println(s"[skew] minhash: emitted_pairs=$pairs " +
      s"capped_buckets=${Dedup.capEvents.sum() - drops0} (loud-cap ledger)")

    val drops1 = Dedup.capEvents.sum()
    val simPairs = phase("simhash near-dup (hot shingles)") {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count()
    }
    println(s"[skew] simhash: emitted_pairs=$simPairs " +
      s"capped_buckets=${Dedup.capEvents.sum() - drops1}")

    // ---- degenerate duplicate corpus: the cap ledger MUST fire -------
    // 30% of docs get fully IDENTICAL text (the 100 TB "title card" /
    // boilerplate-only page): every band bucket for that signature
    // holds the whole hot set, so without the cap the self-join goes
    // quadratic on it (|hot|²/2 pairs × bands). The cap drops those
    // buckets wholesale and the ledger must count every drop.
    val dupDocs = docs.select(col("doc_id"),
      when(h % 10 < 3, lit(boiler)).otherwise(col("text")).as("text"))
      .localCheckpoint(false)
    val nDup = dupDocs.filter(col("text") === boiler).count()
    val drops2 = Dedup.capEvents.sum()
    val dupPairs = phase("minhash LSH on 30% identical corpus (capped)") {
      Dedup.minhashDedup(dupDocs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5, mode = Dedup.Fast).count()
    }
    val dupCapped = Dedup.capEvents.sum() - drops2
    println(s"[skew] identical-corpus: hot_docs=$nDup emitted_pairs=$dupPairs " +
      s"capped_buckets=$dupCapped — quadratic core " +
      s"(${nDup * (nDup - 1) / 2} pairs/band) refused, counted, WARNed")
    require(dupCapped > 0, "cap ledger failed to fire on an identical corpus")

    // A/B the avoided work at a size where uncapped is still feasible:
    // same corpus shape, hot set scaled to ~1.5k docs, cap OFF vs ON.
    val smallHot = docs.filter(h % 10 === 0).limit(1500)
      .select(col("doc_id"), lit(boiler).as("text"))
    val smallRest = docs.filter(h % 10 =!= 0)
      .select(col("doc_id"), col("text"))
    val small = smallHot.unionByName(smallRest).localCheckpoint(false)
    small.count()
    val uncapped = phase("small hot set (1.5k identical), cap OFF") {
      Dedup.minhashDedup(small, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5, mode = Dedup.Fast,
        maxBucket = 0).count()
    }
    val capped2 = phase("small hot set (1.5k identical), cap 256") {
      Dedup.minhashDedup(small, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5, mode = Dedup.Fast).count()
    }
    println(s"[skew] cap A/B: uncapped_pairs=$uncapped capped_pairs=$capped2 " +
      s"(uncapped pays the |hot|² candidate join + verify; capped refuses it loudly)")

    // ---- hot-key join: AQE skew-split vs salted ----------------------
    // BIG x MID equi-join on the zipfian key; broadcast disabled so the
    // shuffle join's hot partition actually exists, which is exactly
    // the shape AQE skew-split and salting are for.
    val build = spark.range(0, 11 * 64)
      .select((col("id") % 11).cast("int").as("domain"),
        (col("id") / 11).as("slot"),
        md5(col("id").cast("string")).as("payload"))
      .localCheckpoint(false)
    build.count()
    // the threshold is set on a clone of the session: the shared
    // session's conf, and every query planned on it, stay as they were
    val noBroadcast = Bridge.cloneSession(spark)
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (shuffledDocs, shuffledBuild) =
      (Bridge.inSession(docs, noBroadcast), Bridge.inSession(build, noBroadcast))
    val plainN = phase("plain shuffle join (AQE skew-split on)") {
      shuffledDocs.join(shuffledBuild, "domain").count()
    }
    val saltedN = phase("salted join (salt=32)") {
      SkewJoin.saltedEquiJoin(shuffledDocs, shuffledBuild, "domain", 32, col("doc_id")).count()
    }
    require(plainN == saltedN, s"salted join diverged: $plainN vs $saltedN")
    println(s"[skew] join parity: $plainN rows from both plans")

    // ---- AQE aggregation over the hot key ----------------------------
    phase("groupBy(domain) agg (AQE)") {
      docs.groupBy("domain").agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars")).collect()
    }
    spark.stop()
  }
}
