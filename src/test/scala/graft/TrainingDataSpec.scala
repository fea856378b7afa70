package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Retrieval, Sampling, SimilaritySearch, TextAnalysis}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, v: String): Any =
    Seq(v).toDF("text").select(c.as("y")).collect()(0).get(0)

  test("tokenization and fingerprint") {
    assert(one(TextAnalysis.tokenCount($"text"), "  a  b   c ") == 3)
    assert(one(TextAnalysis.tokenCount($"text"), "") == 0)
    assert(one(TextAnalysis.fingerprint($"text"), "Hello   World") ==
      one(TextAnalysis.fingerprint($"text"), "hello world"))
  }

  test("gopher rules: multi-line bullet/ellipsis paths and the full verdict") {
    // the oracle corpus is single-line, so the line rules are pinned
    // here: 10 lines, 9+ bullets fails r_bullet; 3+/10 ellipsis ends
    // fails r_ellipsis; a long plain doc passes everything
    val goodBody = (1 to 60).map(i => s"word$i has the rules and that").mkString(" ")
    val bullets = (1 to 9).map(i => s"- item $i").mkString("\n") + "\nplain line"
    val dots = (1 to 3).map(i => s"line $i trails off...").mkString("\n") +
      "\n" + (1 to 7).map(i => s"line $i is fine").mkString("\n")
    val df = Seq((1L, goodBody), (2L, bullets), (3L, dots)).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val good = out(0)
    assert(good.getAs[Boolean]("r_word_count") && good.getAs[Boolean]("r_bullet") &&
      good.getAs[Boolean]("r_ellipsis") && good.getAs[Boolean]("r_stopwords") &&
      good.getAs[Boolean]("keep"))
    val bl = out(1)
    assert(bl.getAs[Int]("n_lines") == 10 && bl.getAs[Int]("n_bullet") == 9)
    assert(!bl.getAs[Boolean]("r_bullet") && !bl.getAs[Boolean]("keep"))
    val el = out(2)
    assert(el.getAs[Int]("n_lines") == 10 && el.getAs[Int]("n_ellipsis") == 3)
    assert(!el.getAs[Boolean]("r_ellipsis") && !el.getAs[Boolean]("keep"))
  }

  test("hashed model score: exact integer logit, linear in repeats, bounded") {
    val one = Seq("hello").toDF("text")
      .select(TextAnalysis.hashedModelLogit($"text").as("l")).collect()(0).getLong(0)
    val five = Seq("hello hello hello hello hello").toDF("text")
      .select(TextAnalysis.hashedModelLogit($"text").as("l"),
        TextAnalysis.hashedModelScore($"text").as("s")).collect()(0)
    assert(five.getLong(0) == 5 * one)               // logit linear in token count
    assert(five.getDouble(1) == one.toDouble / (1L << 19)) // mean slot weight scaled
    assert(math.abs(five.getDouble(1)) <= 1.0)
    val empty = Seq("  ").toDF("text")
      .select(TextAnalysis.hashedModelLogit($"text").as("l"),
        TextAnalysis.hashedModelScore($"text").as("s")).collect()(0)
    assert(empty.getLong(0) == 0L && empty.getDouble(1) == 0.0)
  }

  test("graph centrality: mutual pair is a fixed point, isolated doc settles at base") {
    import graft.operators.GraphRank
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),  // shares 3 shingles with 1
      (3L, "totally different words here now")).toDF("doc_id", "text")
    val out = GraphRank.similarityCentrality(docs, "doc_id", "text",
        n = 3, minShared = 2L, iters = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("rank"))).toMap
    // 1 <-> 2: deg 1 each; contribution = r div 1 = r, so
    // r' = 0.15e9 + (85 * 1e9) div 100 = 1e9 — the symmetric pair is an
    // exact fixed point of the integer iteration
    assert(out(1L) == ((1L, 1000000000L)))
    assert(out(2L) == ((1L, 1000000000L)))
    // isolated: no inbound mass, settles at (15 * scale) div 100
    assert(out(3L) == ((0L, 150000000L)))
  }

  test("sequence packing: cross-doc spans, exact budgets, bucketing invisible") {
    val docs = Seq((1L, "a a a"), (2L, "b b"), (3L, "c c c c"), (4L, " "))
      .toDF("doc_id", "text")
    // starts: 1->0, 2->3, 3->5 (doc 4 empty, dropped); L=4:
    // seq0 = a,a,a,b  seq1 = b,c,c,c  seq2 = c
    val expected = Set(
      (0L, 1L, 3L, 2, 4L), (0L, 2L, 1L, 2, 4L),
      (1L, 2L, 1L, 2, 4L), (1L, 3L, 3L, 2, 4L),
      (2L, 3L, 1L, 1, 1L))
    for (w <- Seq(1L, 2L, 100L)) { // bucket width must not change the layout
      val got = TextAnalysis.packSequences(docs, "doc_id", "text", 4, bucketWidth = w)
        .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("span_tokens"), r.getAs[Int]("seq_docs"),
          r.getAs[Long]("seq_tokens"))).toSet
      assert(got == expected, s"bucketWidth=$w")
    }
  }

  test("BM25: saturating tf, length normalization, only matching docs ranked") {
    val docs = Seq(("a", "x x y"), ("b", "x z"), ("c", "y y y"), ("d", "z z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, "doc_id", "text", Seq("x", "y"), k = 10)
      .collect().map(r => r.getAs[String]("doc_id") ->
        (r.getAs[Double]("score"), r.getAs[Int]("n_terms"))).toMap
    // N=4, tot=10, avgdl=2.5; df(x)=2, df(y)=2 -> idf = 2.5/2.5 = 1.0
    def sat(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (dl / 2.5)))
    val expA = 1.0 * sat(2, 3) + 1.0 * sat(1, 3)
    val expB = 1.0 * sat(1, 2)
    val expC = 1.0 * sat(3, 3)
    assert(out.keySet == Set("a", "b", "c")) // d matches nothing
    assert(out("a")._2 == 2 && out("b")._2 == 1 && out("c")._2 == 1)
    assert(math.abs(out("a")._1 - expA) < 1e-12)
    assert(math.abs(out("b")._1 - expB) < 1e-12)
    assert(math.abs(out("c")._1 - expC) < 1e-12)
    // two-term doc with saturated tf beats the single-term docs
    assert(out("a")._1 > out("c")._1 && out("c")._1 > out("b")._1)
  }

  test("vocab induction: rank by count then term, exact cumulative coverage") {
    val docs = Seq((1L, "b a b c b a"), (2L, "a x")).toDF("doc_id", "text")
    val out = TextAnalysis.buildVocab(docs, "doc_id", "text", topN = 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("term"),
        r.getAs[Long]("n_occurrences"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("coverage")))
    // counts: b=3, a=3, c=1, x=1 (8 total); ties break term-ascending
    assert(out.toSeq.sorted == Seq(
      (1, "a", 3L, 2L, 3.0 / 8),
      (2, "b", 3L, 1L, 6.0 / 8),
      (3, "c", 1L, 1L, 7.0 / 8)))
  }

  test("BPE apply: rank-ordered merges segment words like Sennrich apply_bpe") {
    val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
      "e" -> "r", "o" -> "n", "r" -> "e", "s" -> "t")
    val out = Seq((1L, "the resting on")).toDF("doc_id", "text")
      .select(TextAnalysis.applyBpe($"text", merges).as("b"),
        TextAnalysis.bpeUnitCount($"text", merges).as("n"))
      .collect()(0)
    // 'the': t h e -> th e -> the (1 unit); 'resting': (i,n) then (r,e)
    // then (s,t) -> re st in g (4); 'on': (o,n) -> on (1)
    assert(out.getSeq[String](0) == Seq("the", "re st in g", "on"))
    assert(out.getInt(1) == 6)
  }

  test("BPE apply is symbol-boundary-aware: (h,e) never eats the tail of 'th'") {
    val out = Seq((1L, "the")).toDF("doc_id", "text")
      .select(TextAnalysis.applyBpe($"text", Seq("t" -> "h", "h" -> "e")).as("b"))
      .collect()(0).getSeq[String](0)
    // ' t h e ' -> (t,h) -> ' th e '; (h,e) must NOT match inside 'th e'
    assert(out == Seq("th e"))
  }

  test("BPE apply chains consecutive occurrences like Sennrich's zero-width regex") {
    // (?<!\S)a\s+b(?!\S) boundaries are zero-width, so back-to-back
    // occurrences sharing a boundary ALL merge in one pass:
    // banana -> b an an a (not the under-merged b an a n a).
    val out = Seq((1L, "banana papa aaaa")).toDF("doc_id", "text")
      .select(TextAnalysis.applyBpe($"text",
        Seq("a" -> "n", "p" -> "a", "a" -> "a")).as("b"))
      .collect()(0).getSeq[String](0)
    assert(out == Seq("b an an a", "pa pa", "aa aa"))
  }

  test("BPE training merges repeated pairs fully before the next round") {
    val docs = Seq((1L, "banana banana")).toDF("doc_id", "text")
    val learned = TextAnalysis.learnBpeMerges(docs, "doc_id", "text", k = 2)
    // r1: (a,n)=4 ties (n,a)=4, lexicographic -> (a,n); application must
    // yield 'b an an a' so r2 sees (an,an)/(an,a)/(b,an) each c=2 and
    // tie-breaks to (an,a) — the under-merged 'b an a n a' would instead
    // surface a phantom (a,n)/(n,a) pair again.
    assert(learned == Seq(("a", "n", 4L), ("an", "a", 2L)))
  }

  test("BPE training: frequency-weighted argmax merges, composes with apply") {
    val docs = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val learned = TextAnalysis.learnBpeMerges(docs, "doc_id", "text", k = 4)
    // vocab: low x2 (l o w), lower x1 (l o w e r)
    // r1: (l,o)=3 ties (o,w)=3, lexicographic tie-break -> (l,o)
    // r2: (lo,w)=3 -> low; r3: (e,r)=1 beats (low,e)=1 on 'e' < 'l'
    // r4: (low,er)=1
    assert(learned == Seq(("l", "o", 3L), ("lo", "w", 3L),
      ("e", "r", 1L), ("low", "er", 1L)))
    // the learned tokenizer segments its own training words to 1 unit
    val n = docs.select(TextAnalysis.bpeUnitCount($"text",
      learned.map(m => (m._1, m._2))).as("n")).collect()(0).getInt(0)
    assert(n == 3)
  }

  test("bigram LM stats: corpus-trained probs, rare transitions flag the outlier") {
    val docs = Seq(
      (1L, "a b a b a b"),   // transitions the corpus supports
      (2L, "a z"),           // a->z seen once out of c(a,.)=4
      (3L, "q")).toDF("doc_id", "text") // no bigrams at all
    val out = TextAnalysis.bigramLmStats(docs, "doc_id", "text", tau = 0.5, rareDen = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_bigrams"), r.getAs[Double]("min_prob"),
         r.getAs[Long]("rare_count"), r.getAs[Boolean]("kept"))).toMap
    // corpus counts: c(a,b)=3, c(b,a)=2, c(a,z)=1; c(a,.)=4, c(b,.)=2
    assert(out(1L) == ((5, 0.75, 0L, true)))   // min p = 3/4, none rare
    assert(out(2L) == ((1, 0.25, 1L, false)))  // p(a->z)=1/4 < tau, 1*2 > 1
    assert(out(3L) == ((0, 2.0, 0L, true)))    // sentinel min_prob, trivially kept
  }

  test("language ID heuristic picks marker-dominant language") {
    assert(one(TextAnalysis.langId($"text"), "the cat is on the mat and the dog") == "en")
    assert(one(TextAnalysis.langId($"text"), "el perro y la casa de madrid") == "es")
    assert(one(TextAnalysis.langId($"text"), "le chat et les souris") == "fr")
    assert(one(TextAnalysis.langId($"text"), "der hund und die katze") == "de")
    assert(one(TextAnalysis.langId($"text"), "zzz qqq www") == "unknown")
  }

  test("winnowing: shared long run => shared fingerprint; density ~2/(w+1)") {
    val shared = "the quick brown fox jumps over the lazy dog near the river"
    val docs = Seq(
      (1L, s"$shared and then some unique tail content for document one"),
      (2L, s"a totally different head here but $shared"),
      (3L, "no overlap at all with anything else in this tiny corpus zzz"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // guarantee: a shared run of length >= w+k-1 = 11 chars yields a shared fp
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    // selection density stays near 2/(w+1), far below one-per-position
    val n1 = docs.filter($"doc_id" === 1L).select(length(regexp_replace(lower(trim($"text")), "\\s+", " ")))
      .collect()(0).getInt(0)
    assert(byDoc(1L).size < n1 / 2)
  }

  test("quality score in [0,1] and ordered sensibly") {
    val good = one(TextAnalysis.qualityScore($"text"),
      "the quick brown fox jumps over the lazy dog and runs to the barn in a field")
      .asInstanceOf[Double]
    val bad = one(TextAnalysis.qualityScore($"text"), "!!! ??? ;;; ###").asInstanceOf[Double]
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup
    (4L, "completely different content about spark query engines and columnar formats"),
    (5L, "another unrelated text mentioning gradient descent and neural networks"))
    .toDF("doc_id", "text")

  test("exact duplicates found; first-wins keeps min id") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("prefix-filtered jaccard join reproduces the plain join exactly") {
    // randomized corpus with heavy shingle overlap so prefixes matter:
    // docs share a rotating pool of phrases plus per-doc unique tails.
    // Two seeds × three thresholds sweep the r16 positional-filter
    // boundary (c + min(remaining) == alpha) from both sides.
    for (seed <- Seq(17L, 43L)) {
    val rnd = new scala.util.Random(seed)
    val pool = Vector("the quick brown fox", "jumps over the lazy dog",
      "spark query engines", "columnar formats matter", "near the river bank")
    val base = (1L to 60L).map { i =>
      val parts = Seq.fill(3)(pool(rnd.nextInt(pool.size))) :+ s"tail$i word${i % 7}"
      (i, parts.mkString(" "))
    }
    // exact + near copies so the t=0.8 band is non-degenerate
    val corpus = (base ++ Seq(
      (101L, base(0)._2), (102L, base(1)._2 + " extra"), (103L, base(2)._2)))
      .toDF("doc_id", "text")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val plain = canon(Dedup.jaccardPairs(corpus, "doc_id", "text", 3, t))
      val pref = canon(Dedup.jaccardPairsPrefix(corpus, "doc_id", "text", 3, t))
      assert(pref == plain, s"seed $seed threshold $t: prefix-filtered " +
        s"result diverged " +
        s"(missing=${(plain -- pref).take(3)} extra=${(pref -- plain).take(3)})")
      assert(plain.nonEmpty, s"degenerate fixture at t=$t")
    }
    }
  }

  test("incremental decontamination: updated doc's old flags drop, new doc's flags land") {
    val root = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    val (docsDir, ckDir, statusRoot) = (s"$root/d", s"$root/ck", s"$root/st")
    val cfg = graft.types.TableConfig("docs", Seq("doc_id"), Seq.empty)
    val bench = Seq((100L, "secret eval question about gradient descent methods"))
      .toDF("doc_id", "text")
    import org.apache.spark.sql.functions.col
    def pub(rows: Seq[(Long, String)]): Unit =
      graft.sources.Sources.publishMergePartitioned(spark, docsDir,
        rows.toDF("doc_id", "text")
          .withColumn("p", (col("doc_id") % 2).cast("int")), cfg, "p")
    // cycle 1: doc 1 contaminated (contains a benchmark 4-gram),
    // doc 2 clean
    pub(Seq(
      (1L, "intro text secret eval question about gradient stuff"),
      (2L, "totally unrelated clean document body here")))
    val s1 = Dedup.decontaminateChanges(spark, docsDir, ckDir, statusRoot, bench,
      partitionCol = "p").get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s1 == Set((1L, 100L)))
    // cycle 2: doc 1 UPDATED to clean text (old flag must drop),
    // doc 3 arrives contaminated
    pub(Seq(
      (1L, "rewritten clean body with nothing shared anymore"),
      (3L, "another secret eval question about gradient descent here")))
    val s2 = Dedup.decontaminateChanges(spark, docsDir, ckDir, statusRoot, bench,
      partitionCol = "p").get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s2 == Set((3L, 100L)), s2.toString)
    // no publish → None, status untouched
    assert(Dedup.decontaminateChanges(spark, docsDir, ckDir, statusRoot, bench,
      partitionCol = "p").isEmpty)
    // cycle 3: doc 3 DELETED from the table — its stale flag must
    // drop via the feed's orphaned keys (the snapshot equals a full
    // recontamination of the live state even under deletes); doc 5
    // arrives contaminated in the same window
    pub(Seq((5L, "yet another secret eval question about gradient descent")))
    assert(graft.sources.Sources.publishMergeDeletes(spark, docsDir,
      Seq((3L, 1)).toDF("doc_id", "p"),
      graft.types.TableConfig("docs", Seq("doc_id"), Seq.empty), "p") == 1L)
    val s3 = Dedup.decontaminateChanges(spark, docsDir, ckDir, statusRoot, bench,
      partitionCol = "p").get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s3 == Set((5L, 100L)), s3.toString)
  }

  test("containment pairs: asymmetric subset detection Jaccard misses") {
    import spark.implicits._
    // doc 2 = a strict prefix of doc 1 (quote/subset): containment
    // 2→1 is 1.0 while Jaccard is well below; doc 3 unrelated
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val short = "alpha beta gamma delta epsilon zeta"     // 6 tokens → 4 shingles
    val corpus = Seq((1L, long), (2L, short), (3L, "totally different words entirely here now"))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // inner=2 fully contained in outer=1: 4 common / 4 inner = 1.0
    assert(rows.contains((2L, 1L)), rows.keySet.toString)
    val (nc, ni, no, c) = rows((2L, 1L))
    assert(nc == 4L && ni == 4L && no == 18L && c == 1.0)
    // the reverse direction (1 ⊄ 2) and the unrelated doc never pass
    assert(!rows.contains((1L, 2L)) && !rows.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // Jaccard at the same τ finds NOTHING here — the pair only exists
    // through the asymmetric lens
    assert(Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.9).count() == 0L)
  }

  test("prefix filter slashes candidate volume on a zipfian corpus, answer unchanged") {
    // every doc shares a hot stopword run (df = N shingles) plus a
    // rare per-doc tail — the regime where the plain posting-list
    // self-join materializes Σ C(df,2) ≈ N²/2 rows per hot shingle
    val hot = "to be or not to be that is the question of the day again"
    val base = (1L to 80L).map { i =>
      // the rare tail must span ≥ half the doc so the t=0.5 prefix is
      // all-rare — that's the PPJoin regime (hot shingles carry no
      // discriminating signal and never enter the candidate join)
      val tail = (0 until 16).map(j => s"u${i}x$j").mkString(" ")
      (i, s"$hot $tail")
    }
    val corpus = (base ++ Seq((201L, base(0)._2), (202L, base(1)._2)))
      .toDF("doc_id", "text")
    val allSh = Dedup.shingles(corpus, "doc_id", "text", 3).localCheckpoint(false)
    val sizes = allSh.groupBy("_id").agg(count(lit(1)).as("_n"))
    val full = Dedup.candidateVolume(allSh)
    val pref = Dedup.candidateVolume(Dedup.prefixShingles(allSh, sizes, 0.5))
    assert(pref * 10 <= full,
      s"prefix filter should cut candidates 10x+ here: full=$full prefix=$pref")
    // and the filtered plan still returns the exact answer
    val plain = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(_.toString).toSet
    val fast = Dedup.jaccardPairsPrefix(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(_.toString).toSet
    assert(fast == plain && plain.nonEmpty)
    // LENGTH FILTER differential: docs of wildly different sizes that
    // share a rare prefix shingle are candidate-killed by t·max ≤ min
    // — and exactness must survive, including at a boundary where
    // t·max == min exactly (the slack must keep it)
    val mixed = (corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++
      Seq((301L, "zq1 zq2 zq3 zq4"),                      // 2 shingles
        (302L, ("zq1 zq2 zq3 zq4 " +                       // superset, many more
          (0 until 30).map(j => s"zfill$j").mkString(" "))),
        (303L, "zq1 zq2 zq3 zq4 tailone tailtwo")))        // 4 shingles: t·4 == 2
      .toDF("doc_id", "text")
    val plainM = Dedup.jaccardPairs(mixed, "doc_id", "text", 3, 0.5)
      .collect().map(_.toString).toSet
    val fastM = Dedup.jaccardPairsPrefix(mixed, "doc_id", "text", 3, 0.5)
      .collect().map(_.toString).toSet
    assert(fastM == plainM,
      s"length filter broke exactness (missing=${(plainM -- fastM).take(3)})")
  }

  test("triangle enumeration: closed triples only, each reported once, ordered") {
    import graft.operators.GraphRank
    // K4 on {1,2,3,4} minus edge (3,4), plus a disconnected edge (8,9):
    // triangles = (1,2,3), (1,2,4) — no (1,3,4)/(2,3,4), nothing from 8-9
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (8L, 9L))
      .toDF("id_a", "id_b")
    val tris = GraphRank.triangles(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tris == Set((1L, 2L, 3L), (1L, 2L, 4L)))
  }

  test("collapse safety: cliques safe, chains flagged, counts exact") {
    // clique {1,2,3}: 3 edges, 1 triangle, density 1.0 → safe
    // chain 10-11-12-13: 3 edges of C(4,2)=6, 0 triangles, 0.5 → unsafe
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 12L, 13L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("id_a", "id_b")
    val out = Dedup.collapseSafety(docs, pairs, "doc_id", 0.6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Double]("density"), r.getAs[Boolean]("safe")))).toMap
    assert(out(1L) == ((3L, 3L, 1L, 1.0, true)))
    assert(out(10L) == ((4L, 3L, 0L, 0.5, false)))
    assert(!out.contains(99L))                    // singletons not reported
  }

  test("ngram jaccard scores exact dup 1.0 and near dup high") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.7 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.contains((4L, 5L)))
  }

  test("minhash LSH finds the verified near-dup pairs (full recall here)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashDedup(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == exact)
    // written-intermediate shingle store (the 100 TB shape) produces
    // the identical pair set
    val dir = java.nio.file.Files.createTempDirectory("graft_shingles").toString
    val mhStored = Dedup.minhashDedup(docs, "doc_id", "text", 3, 64, 16, 0.5,
        shingleStore = Some(s"$dir/sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhStored == mh)
  }

  test("minhash length filter is lossless: filtered == unfiltered verified pairs") {
    // docs spanning 1x-20x lengths: band collisions across size classes
    // exist (shared base sentence), and J >= 0.5 forces size ratio
    // >= 0.5 — so the filter must FIRE (fewer candidates) while the
    // VERIFIED pair set stays identical (it only removes candidates
    // exact verification would reject anyway)
    import org.apache.spark.sql.functions.{count, lit}
    // per short doc: a near-identical twin (J >= 0.5, must survive) and
    // a long CONTAINING doc (size ratio ~0.2 < 0.5, must be pruned);
    // 1-row bands make cross-size band collisions near-certain
    // (collision probability per band = J, 16 bands), so the filter
    // has real work to do
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val skew = (0L until 8L).flatMap { i =>
      val s = base + " s" + i
      val twin = base + " t" + i
      val long = s + " " + (0 until 30).map(k => s"fill${i}x$k").mkString(" ")
      Seq((i * 3, s), (i * 3 + 1, twin), (i * 3 + 2, long))
    }.toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(skew, "doc_id", "text", 3, 16, Dedup.Fast)
    val sigN = sig.join(
      Dedup.shingles(skew, "doc_id", "text", 3)
        .groupBy("_id").agg(count(lit(1)).as("_n")), "_id")
    val unfiltered = Dedup.minhashCandidates(sig, 16, 1)
    val filtered = Dedup.minhashCandidates(sigN, 16, 1, sizeThreshold = 0.5)
    assert(filtered.count() < unfiltered.count(),
      "length filter never fired — the corpus no longer exercises it")
    val sh = Dedup.shingles(skew, "doc_id", "text", 3)
    def verified(c: org.apache.spark.sql.DataFrame) =
      Dedup.verifyAgainstShingles(sh, c, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val v = verified(unfiltered)
    assert(v.nonEmpty)
    assert(verified(filtered) == v)
  }

  test("embedding near-dup: LSH-bucketed variant recalls the exact pairs for true near-dups") {
    // 20 well-separated base directions, each with a slightly perturbed
    // twin (cosine ≈ 0.999) — the near-duplicate regime LSH targets
    val rnd = new scala.util.Random(7L)
    val vecs = (0 until 20).flatMap { g =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val twin = base.zipWithIndex.map { case (x, j) => x + (if (j == g % 16) 0.02f else 0.0f) }
      Seq((g * 2L, base), (g * 2L + 1L, twin))
    }.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20) // every twin pair qualifies
    val lsh = Dedup.embeddingNearDupsLsh(vecs, "vec_id", "embedding", 0.95,
        nBits = 8, dim = 16, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verification keeps precision exact
    assert((lsh intersect exact).size.toDouble / exact.size >= 0.8,
      s"recall ${(lsh intersect exact).size.toDouble / exact.size}")
  }

  test("embedding LSH prefix prune is lossless: pruned == unpruned bit-for-bit") {
    // mixed-cosine corpus: clusters of correlated vectors plus noise,
    // so candidates span well-below / near / above the threshold and
    // the Cauchy-Schwarz bound gets exercised on both sides of it
    val rnd = new scala.util.Random(11L)
    val vecs = (0 until 8).flatMap { g =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      (0 until 6).map { m =>
        val v = base.zipWithIndex.map { case (x, j) =>
          x + (rnd.nextGaussian() * 0.25 * (m % 3 + 1)).toFloat + (if (j == m) 0.1f else 0f) }
        (g * 10L + m, v)
      }
    }.toDF("vec_id", "embedding")
    def run(prune: Int) =
      Dedup.embeddingNearDupsLsh(vecs, "vec_id", "embedding", 0.6,
          nBits = 4, dim = 16, nProbe = 3, prefixPrune = prune)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unpruned = run(0)
    assert(unpruned.nonEmpty) // a vacuous comparison proves nothing
    assert(run(8) == unpruned)   // prune active (8 < dim)
    assert(run(16) == unpruned)  // prune degenerate (p >= dim) = off
  }

  test("dotF/normRangeF kernels agree with the cosine kernel's arithmetic") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(5L)
    val vecs = (0L until 50L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val a = vecs.select(col("vec_id").as("id_a"), col("embedding").as("_va"))
    val b = vecs.select(col("vec_id").as("id_b"), col("embedding").as("_vb"))
    val rows = a.join(b, col("id_a") < col("id_b"))
      .select(
        graft.operators.SimilaritySearch.cosine(col("_va"), col("_vb")).as("cos"),
        (graft.functions.VectorKernels.dotCol(col("_va"), col("_vb")) /
          (graft.functions.VectorKernels.normRangeCol(col("_va"), 0, Int.MaxValue) *
            graft.functions.VectorKernels.normRangeCol(col("_vb"), 0, Int.MaxValue)))
          .as("recomposed"),
        // the bound at p=8 must dominate the true cosine (Cauchy-Schwarz)
        ((graft.functions.VectorKernels.dotCol(
            org.apache.spark.sql.functions.slice(col("_va"), 1, 8),
            org.apache.spark.sql.functions.slice(col("_vb"), 1, 8)) +
          graft.functions.VectorKernels.normRangeCol(col("_va"), 8, Int.MaxValue) *
            graft.functions.VectorKernels.normRangeCol(col("_vb"), 8, Int.MaxValue)) /
          (graft.functions.VectorKernels.normRangeCol(col("_va"), 0, Int.MaxValue) *
            graft.functions.VectorKernels.normRangeCol(col("_vb"), 0, Int.MaxValue)))
          .as("bound"))
      .collect()
    rows.foreach { r =>
      val (cos, rec, bound) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(math.abs(cos - rec) < 1e-12, s"cos=$cos recomposed=$rec")
      assert(bound >= cos - 1e-12, s"bound=$bound below cos=$cos")
    }
  }

  test("SQ8: full-range codes, bounded reconstruction, exact-agreeing top-1") {
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.1f, 0.1f)),
      (2L, Array(5.0f, 5.0f)), (3L, Array(5.1f, 5.0f)), (4L, Array(10.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val (mins, maxs) = SimilaritySearch.sqTrain(vecs)
    assert(mins == Seq(0.0, 0.0) && maxs == Seq(10.0, 9.0))
    val codes = SimilaritySearch.sqEncode(vecs, mins, maxs).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Int]]("codes").toList).toMap
    assert(codes.values.forall(_.forall(c => c >= 0 && c <= 255)))
    assert(codes(0L) == List(0, 0) && codes(4L) == List(255, 255))
    // on well-separated points the quantized ranking agrees with exact
    val top1 = SimilaritySearch.sqTopK(vecs, vecs, mins, maxs, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(top1 == Map(0L -> 1L, 1L -> 0L, 2L -> 3L, 3L -> 2L, 4L -> 3L))
  }

  test("simhash: identical docs hamming 0, near dups close, distinct docs far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).exists(_ <= 16))
    assert(!pairs.contains((4L, 5L)))
  }

  test("bucket caps are LOUD: a hot LSH bucket counts its drops in the cap ledger") {
    // 40 byte-identical docs -> every band bucket holds all 40 ids;
    // maxBucket=8 drops them wholesale. Every dropped bucket must
    // increment Dedup.capEvents (and WARN) — no silent truncation
    // under skew. Local mode shares the JVM, so the ledger is visible.
    val before = Dedup.capEvents.sum()
    val hot = (1L to 40L).map(i =>
      (i, "the same exact boilerplate text repeated across the entire corpus body"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashDedup(hot, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5, maxBucket = 8)
    assert(out.count() == 0) // every bucket capped -> no candidates
    val dropped = Dedup.capEvents.sum() - before
    // 16 bands x 1 hot bucket each = at least 16 drops (stage retries
    // may over-count; never under)
    assert(dropped >= 16, s"cap ledger recorded $dropped drops")
  }
}

class VectorSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),    // identical to 0
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),    // close to 0
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),    // orthogonal
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)))   // opposite
    .toDF("vec_id", "embedding")

  test("brute-force cosine top-k ranks identical > close > orthogonal > opposite") {
    val out = SimilaritySearch.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), 4)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(0).getAs[Double]("score") == 1.0)
    assert(math.abs(out(2).getAs[Double]("score")) < 1e-12)
    assert(out(3).getAs[Double]("score") == -1.0)
  }

  test("lsh bucket is deterministic and identical vectors collide") {
    val planes = SimilaritySearch.randomPlanes(8, 4)
    val b = vecs.select($"vec_id", SimilaritySearch.lshBucket($"embedding", planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == b(1L))
    assert(SimilaritySearch.randomPlanes(8, 4) == planes) // seeded
  }

  test("ann finds the identical neighbor through its bucket") {
    val out = SimilaritySearch.annTopK(vecs, vecs.filter($"vec_id" === 0), k = 3, nBits = 4, dim = 4)
      .collect()
    assert(out.exists(r => r.getAs[Long]("neighbor_id") == 1L && r.getAs[Double]("score") == 1.0))
  }

  test("multiprobe ann recall dominates single-probe (never loses neighbors)") {
    // enough vectors that single-probe visibly splits near-neighbors
    // across buckets; margin-guided flips must win them back
    val many = (0L until 60L).map { i =>
      val base = (i % 6).toFloat
      (i, Array(base + (i % 7) * 0.03f, 1.0f - (i % 5) * 0.11f,
        (i % 3) * 0.4f, 0.25f * (i % 4)))
    }.toDF("vec_id", "embedding")
    val qs = many.filter($"vec_id" < 8)
    def hits(nProbe: Int): Set[(Long, Long)] =
      SimilaritySearch.annTopK(many, qs, k = 5, nBits = 5, dim = 4, nProbe = nProbe)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = SimilaritySearch.bruteForceTopK(many, qs, 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val single = hits(1); val multi = hits(3)
    def recall(s: Set[(Long, Long)]) = (s intersect brute).size.toDouble / brute.size
    assert(recall(multi) >= recall(single))
    assert(recall(multi) > 0.5, s"multiprobe recall ${recall(multi)}")
  }

  test("seeded ivf with full probing also equals brute force") {
    val brute = SimilaritySearch.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), 4)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    val full = SimilaritySearch.ivfTopKSeeded(vecs, vecs.filter($"vec_id" === 0), k = 4,
        centroidIds = Seq(0L, 2L), nProbe = 2)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == brute)
  }

  test("PQ: codes quantize to nearest codebook entry; ADC exact on codebook points") {
    // codebooks from rows 0 and 3: subspace 0 entries {(1,0),(0,0)},
    // subspace 1 entries {(0,0),(1,0)}
    val cbs = SimilaritySearch.pqCodebooks(vecs, Seq(0L, 3L), m = 2)
    assert(cbs == Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 0.0)),
                      Seq(Seq(0.0, 0.0), Seq(1.0, 0.0))))
    val codes = SimilaritySearch.pqEncode(vecs, cbs)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("code")).toMap
    assert(codes == Map(0L -> "0-0", 1L -> "0-0", 2L -> "0-0",
                        3L -> "1-1", 4L -> "1-0"))
    // ADC from query 0: rows whose subvectors ARE codebook entries get
    // their TRUE squared L2 (1 -> 0.0, 3 -> 2.0, 4's recon (0,0,0,0) -> 1.0)
    val adc = SimilaritySearch.pqTopK(vecs, vecs.filter($"vec_id" === 0), cbs, k = 4)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc_dist")))
    assert(adc.toSeq.sorted == Seq((1, 1L, 0.0), (2, 2L, 0.0), (3, 4L, 1.0), (4, 3L, 2.0)))
  }

  test("IVF-PQ index on disk: search matches in-memory, scan prunes to probed lists") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    val v = SimilaritySearch.writeIvfPqIndex(vecs, dir,
      coarseIds = Seq(0L, 3L), pqIds = Seq(0L, 3L), m = 2)
    // the codes table's one batch dir: the build's first append
    val codes = new java.io.File(v, "codes").listFiles().filter(_.getName.startsWith("b-"))
      .toSeq match { case Seq(b) => b.toString }
    val fromIndex = SimilaritySearch.searchIvfPqIndex(spark, dir,
        vecs.filter($"vec_id" === 0), k = 4, nProbe = 2)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc_dist"))).toSet
    // probing every list degrades to plain ADC over the same codebooks
    val inMemory = SimilaritySearch.pqTopK(vecs, vecs.filter($"vec_id" === 0),
        SimilaritySearch.pqCodebooks(vecs, Seq(0L, 3L), m = 2), k = 4)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc_dist"))).toSet
    assert(fromIndex == inMemory)
    // nProbe=1 from query 0: only list 0 is read — the partition
    // filter is STATIC, visible in the scan, and prunes list 1's files
    val one = SimilaritySearch.searchIvfPqIndex(spark, dir,
      vecs.filter($"vec_id" === 0), k = 4, nProbe = 1)
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "expected the _list predicate to reach the scan as a partition filter")
    assert(one.collect().map(_.getAs[Long]("neighbor_id")).toSet == Set(1L, 2L))
    // the same static IN predicate, in isolation (no AQE wrapper):
    // exactly ONE of the two list partitions' files survives pruning
    val pruned = spark.read.parquet(codes).filter($"_list".isin(0))
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    val all = spark.read.parquet(codes).queryExecution.executedPlan
      .collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get.relation.location.inputFiles.length
    val kept = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.size).sum
    assert(kept < all && kept >= 1,
      s"expected pruning: $kept of $all files scanned")
  }

  test("semantic dedup drops the near-identical cluster member, keeps extremes") {
    import graft.operators.SemanticDedup
    // centroids = rows 0 and 3: cluster A = {0,1,2,4-ish}, cluster B = {3}
    val out = SemanticDedup.semanticDedup(vecs, centroidIds = Seq(0L, 3L), tau = 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster_id"), r.getAs[Int]("centroid_rank"),
         r.getAs[Boolean]("kept"))).toMap
    // cluster A = {0,1,2} around centroid (1,0,0,0): 2 sits FARTHEST
    // from the centroid -> top priority, survives; 0 and 1 (cos ~0.994
    // and 1.0 to it) are its near-centroid duplicates and both drop —
    // the paper's keep-the-extreme rule
    assert(out(2L)._3 && out(2L)._2 == 1)
    assert(!out(0L)._3 && !out(1L)._3)
    // cluster B = {3, 4} (4 is nearer the (0,0,1,0) medoid than the
    // (1,0,0,0) one): cos(3,4) = 0 < tau, both survive
    assert(out(3L)._3 && out(4L)._3)
    // rank-1 member of every cluster is kept by construction
    out.values.groupBy(_._1).foreach { case (_, ms) =>
      assert(ms.filter(_._2 == 1).forall(_._3))
    }
    // survivors() returns exactly the kept rows
    val surv = SemanticDedup.survivors(vecs, Seq(0L, 3L), 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(surv == out.filter(_._2._3).keySet)
  }

  test("semantic dedup maxCluster caps the comparison set, verdicts still total") {
    import graft.operators.SemanticDedup
    // uncapped: 2 (rank 1) kills both 0 and 1; with maxCluster = 1 the
    // comparison set is just rank-1, so verdicts are identical here,
    // and every row still gets one
    val capped = SemanticDedup.semanticDedup(vecs, Seq(0L, 3L), tau = 0.95,
        maxCluster = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(capped.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(capped == Map(0L -> false, 1L -> false, 2L -> true, 3L -> true, 4L -> true))
    // cap below the duplicate depth: rank-2 (id 0) is no longer a
    // comparer, but is still judged against rank-1 — id 1 (rank 3,
    // cos(1, 2) ~0.994) still drops via the capped set
    val one = SemanticDedup.semanticDedup(vecs, Seq(0L, 3L), tau = 0.999,
        maxCluster = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    // at tau .999 only the exact pair (0,1) is a duplicate, and neither
    // is rank 1, so the CAPPED comparison set misses it: documented
    // recall trade-off of the cap
    assert(one == Map(0L -> true, 1L -> true, 2L -> true, 3L -> true, 4L -> true))
  }

  test("semantic dedup at tau > 1 keeps everything; pairwise only within cluster") {
    import graft.operators.SemanticDedup
    val all = SemanticDedup.semanticDedup(vecs, centroidIds = Seq(0L, 3L), tau = 1.5)
    assert(all.filter(!col("kept")).count() == 0)
    // near-identical vectors 0/2 (cos ~0.994) in DIFFERENT clusters are
    // never compared: each is its own medoid, so both survive tau=0.95
    // — the clustering really does bound the pairwise scope
    val split = SemanticDedup.semanticDedup(
      vecs.filter($"vec_id".isin(0L, 2L)), centroidIds = Seq(0L, 2L), tau = 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(split(0L) && split(2L))
  }

  test("pii redaction replaces emails and phones, counts match") {
    val df = Seq(
      (1L, "mail me at a.b+c@x-mail.co.uk or call 555-123-4567 twice 555-000-1111"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.redactPii($"text").as("red"),
        TextAnalysis.patternCount($"text", TextAnalysis.EmailRe).as("ne"),
        TextAnalysis.patternCount($"text", TextAnalysis.PhoneRe).as("np"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("red") ==
      "mail me at <EMAIL> or call <PHONE> twice <PHONE>")
    assert(out(1L).getAs[Int]("ne") == 1 && out(1L).getAs[Int]("np") == 2)
    assert(out(2L).getAs[String]("red") == "no pii here")
    assert(out(2L).getAs[Int]("ne") == 0 && out(2L).getAs[Int]("np") == 0)
  }

  test("repetition ratio: 0 for all-distinct trigrams, high for looped text") {
    val df = Seq(
      (1L, "a b c d e f g h"),               // all trigrams distinct
      (2L, "x y x y x y x y x y"),           // 2 distinct trigrams of 8
      (3L, "a b")).toDF("doc_id", "text")    // too short -> 0.0
    val out = df.select($"doc_id", TextAnalysis.repetitionRatio($"text", 3).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == 1.0 - 2.0 / 8.0)
    assert(out(3L) == 0.0)
  }

  test("contamination flags the doc sharing a 4-gram run with the benchmark") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"),  // shares 4-gram with bench
      (11L, "one two three four five")).toDF("doc_id", "text")
    val bench = Seq(
      (900L, "zzz alpha beta gamma delta qqq")).toDF("doc_id", "text")
    val out = Dedup.contamination(corpus, bench, "doc_id", "text", n = 4, minShared = 1L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"),
        r.getAs[Long]("n_shared")))
    // exactly one shared 4-gram: 'alpha beta gamma delta'
    assert(out.toSeq == Seq((10L, 900L, 1L)))
  }

  test("hash split is deterministic, total and roughly proportioned") {
    val ids = (0L until 1000L).toDF("doc_id")
    val out = ids.select($"doc_id", Sampling.hashSplit($"doc_id").as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.values.sum == 1000L)
    assert(out("train") > 700 && out("train") < 900)
    assert(out("validation") > 50 && out("validation") < 160)
    // determinism: same assignment on re-run
    val a = ids.select(Sampling.hashSplit($"doc_id").as("s")).collect().map(_.getString(0)).toSeq
    val b = ids.select(Sampling.hashSplit($"doc_id").as("s")).collect().map(_.getString(0)).toSeq
    assert(a == b)
  }

  test("temperature mix: tail domains upweighted, head capped, budget honored") {
    // 3 domains, very skewed: 800 / 150 / 50 rows
    val rows = (0L until 800L).map(i => (i, "web")) ++
      (800L until 950L).map(i => (i, "books")) ++
      (950L until 1000L).map(i => (i, "code"))
    val df = rows.toDF("doc_id", "source")
    val kept = Sampling.temperatureMix(df, "doc_id", "source", targetFraction = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptRate = Map(
      "web" -> kept("web") / 800.0,
      "books" -> kept("books") / 150.0,
      "code" -> kept("code") / 50.0)
    // α=0.5 orders keep-rates inversely to domain size
    assert(keptRate("code") > keptRate("books") && keptRate("books") > keptRate("web"),
      keptRate.toString)
    // overall budget ~ targetFraction (md5 fate jitters a few percent)
    val total = kept.values.sum
    assert(total > 400 && total < 600, s"total $total")
    // √N share: code (√50) should keep everything or nearly so
    assert(keptRate("code") > 0.9, keptRate.toString)
  }

  test("leakage-free split: every near-dup cluster member shares one fate") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
      (3L, "completely unrelated content about something else entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val out = Sampling.leakageFreeSplit(docs.select("doc_id"), pairs, "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[String]("split"))).toMap
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L) // one cluster
    assert(out(1L)._2 == out(2L)._2)             // one fate
    assert(out(3L)._1 == 3L)                     // singleton cluster
  }

  test("shuffle-to-shards: positions are a permutation per shard, stable on re-run") {
    val ids = (0L until 300L).toDF("doc_id")
    val out = Sampling.shuffleToShards(ids, "doc_id", 4).collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Int]("pos"), r.getAs[Long]("doc_id")))
    assert(out.length == 300)
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
    }
    val again = Sampling.shuffleToShards(ids, "doc_id", 4).collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Int]("pos"), r.getAs[Long]("doc_id")))
    assert(out.sortBy(_._3).toSeq == again.sortBy(_._3).toSeq)
    // the shard-local order is a real shuffle, not id order
    assert(out.filter(_._1 == 0).sortBy(_._2).map(_._3).toSeq !=
      out.filter(_._1 == 0).map(_._3).sorted.toSeq)
  }

  test("stratified sampling hits per-stratum rates; a row's fate ignores other strata") {
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "web" else "books"))
      .toDF("doc_id", "source")
    val mixed = Sampling.stratifiedByHash(docs, "doc_id", "source",
      Map("web" -> 0.25, "books" -> 1.0))
    val bySrc = mixed.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("books") == 1000L)                 // rate 1.0 keeps all
    assert(bySrc("web") > 150 && bySrc("web") < 350) // ~25% of 1000
    // changing ANOTHER stratum's rate never changes this stratum's picks
    val webOnly = Sampling.stratifiedByHash(docs, "doc_id", "source",
        Map("web" -> 0.25, "books" -> 0.0))
      .filter($"source" === "web").collect().map(_.getLong(0)).toSet
    assert(mixed.filter($"source" === "web").collect().map(_.getLong(0)).toSet == webOnly)
  }

  test("incremental minhash dedup drops cross-batch and intra-batch dupes, keeps novel docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore").toString + "/sigs"
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely different content about spark catalyst plans and shuffle exchanges"
    val textC = "a third novel document discussing minhash signatures and band buckets"
    val b1 = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val s1 = Dedup.incrementalMinhashDedup(b1, "doc_id", "text", dir, threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(s1.toSeq == Seq(1L, 2L)) // empty store: both survive
    // batch 2: exact dupe of textA (dies vs store), intra-batch dupe
    // pair (4,5) (larger id dies), novel doc (6) survives
    val b2 = Seq((3L, textA), (4L, textC), (5L, textC), (6L, "unique snowflake content entirely"))
      .toDF("doc_id", "text")
    val s2 = Dedup.incrementalMinhashDedup(b2, "doc_id", "text", dir, threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(s2.toSeq == Seq(4L, 6L), s"got ${s2.toSeq}")
    // store now holds signatures for survivors of both batches
    val stored = graft.sources.Sources.readSnapshot(spark, dir)
      .select("_id").as[Long].collect().sorted
    assert(stored.toSeq == Seq(1L, 2L, 4L, 6L))
  }

  test("long incremental ingest keeps the signature store's file and version counts bounded") {
    def liveFiles(dir: String): Int = {
      val live = new java.io.File(graft.sources.Sources.resolveSnapshot(spark, dir))
      live.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    // ten 5-doc batches; `idType` picks the path: decimal ids take the
    // distributed path, whose publish adds files to the store's live
    // version every batch, long ids the driver path, which writes the
    // store as one file
    def ingest(dir: String, idType: String, maxStoreFiles: Int)(check: Int => Unit): Unit =
      for (b <- 1 to 10) {
        val batch = (1 to 5).map(i =>
          (b * 100L + i, s"novel batch $b doc $i with enough words to shingle " +
            s"alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
          .withColumn("doc_id", col("doc_id").cast(idType))
        Dedup.incrementalMinhashDedup(batch, "doc_id", "text", dir,
          threshold = 0.9, maxStoreFiles = maxStoreFiles)
        check(b)
        // version retention stays at publishSnapshot's bound
        assert(graft.sources.Sources.snapshotVersions(spark, dir).length <= 3)
      }
    def newDir(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_sigstore_$tag").toString + "/sigs"
    val cap = 2 // control run measures 4 natural files; 2 forces compaction
    val dir = newDir("long")
    ingest(dir, "decimal(10,0)", cap) { b =>
      // the post-publish policy compacts whenever the live version
      // crosses the cap, so the observed count never exceeds it
      assert(liveFiles(dir) <= cap, s"batch $b: ${liveFiles(dir)} files > cap $cap")
    }
    // all 50 novel docs' signatures survived every compaction
    assert(graft.sources.Sources.readSnapshot(spark, dir).count() == 50)
    // CONTROL: the same ingest with an effectively-unbounded cap must
    // exceed `cap` files — otherwise the capped run's bound could be
    // natural write coalescing and the assertions above would prove
    // nothing about compaction
    val dir2 = newDir("ctl")
    ingest(dir2, "decimal(10,0)", 1000000)(_ => ())
    assert(liveFiles(dir2) > cap,
      s"control run produced only ${liveFiles(dir2)} files (cap $cap) — the capped " +
        "run's bound would not demonstrate compaction")
    // the driver path rewrites the store as one file every batch
    val dir3 = newDir("driver")
    ingest(dir3, "long", 1000000) { b =>
      assert(liveFiles(dir3) == 1, s"batch $b: ${liveFiles(dir3)} files")
    }
    assert(graft.sources.Sources.readSnapshot(spark, dir3).count() == 50)
  }

  test("near-dup collapse: components get min-id cluster, one survivor each") {
    val docs = (1L to 8L).toDF("doc_id")
    // chain 1-2-3 (transitive, no direct 1-3 pair), pair 5-7; 4,6,8 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.collapseNearDuplicates(docs, pairs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true), (6L, 6L, true), (7L, 5L, false), (8L, 8L, true)))
  }

  test("approx_count_distinct (HLL++) lands within its rsd bound across partitions") {
    // the sketch path for distinct counts at 100 TB (exact
    // countDistinct shuffles every value; HLL merges fixed-size
    // buffers). Not oracle-comparable — sketch layouts are
    // engine-specific — so pinned by accuracy instead: 2% rsd sketch
    // must land within 3×rsd of the true 100k over 32 partitions.
    val n = 100000L
    val ids = spark.range(n).toDF("id").repartition(32)
    val approx = ids.agg(approx_count_distinct("id", 0.02).as("a"))
      .first().getLong(0)
    assert(math.abs(approx - n).toDouble / n < 0.06,
      s"approx=$approx expected within 6% of $n")
  }

  test("tfidf top terms: corpus-unique term outranks a ubiquitous one") {
    val docs = Seq(
      (1L, "common common zebra"),
      (2L, "common common common"),
      (3L, "common plain words")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: zebra df=1 score 1*3/1=3 beats common tf=2 df=3 score 2
    assert(top(1L) == "zebra")
    assert(top(2L) == "common")
  }

  test("exact-k sample: k per stratum, selection independent of other strata") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"s${i % 4}")).toDF("id", "dom")
    val picked = Sampling.exactKPerStratum(docs, "id", "dom", 3)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(picked.groupBy(_._1).forall(_._2.length == 3))
    // dropping a whole other stratum must not change this stratum's picks
    val without = Sampling.exactKPerStratum(docs.filter($"dom" =!= "s3"), "id", "dom", 3)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(picked.filter(_._1 != "s3").toSet == without)
    // k larger than the stratum keeps everything
    val all = Sampling.exactKPerStratum(docs, "id", "dom", 100).count()
    assert(all == 40L)
  }

  test("chunking tiles tokens with the configured overlap; short docs get one chunk") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // under one chunk
      (3L, "")                                        // no tokens: dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
        chunkTokens = 4, overlap = 1) // stride 3
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(x => (x._1, x._2))
    // doc 1: starts 0,3,6,9 -> 1 + ceil((10-4)/3) = 3 chunks at 0,3,6
    assert(out.filter(_._1 == 1L).map(_._4).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    // every consecutive pair shares exactly `overlap` tokens
    assert(out.filter(_._1 == 1L).map(_._3).toSeq == Seq(4, 4, 4))
    assert(out.filter(_._1 == 2L).map(x => (x._3, x._4)).toSeq == Seq((3, "a b c")))
    assert(!out.exists(_._1 == 3L))
  }

  test("chunking property: dropping the overlap prefix of every later chunk reconstructs the doc") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1L to 20L).map { i =>
      (i, (0 until (1 + rnd.nextInt(50))).map(j => s"w${rnd.nextInt(99)}").mkString(" "))
    }.toDF("doc_id", "text")
    val (c, o) = (7, 3)
    val rebuilt = TextAnalysis.chunkDocuments(docs, "doc_id", "text", c, o)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1).map { case (id, chs) =>
        val toks = chs.sortBy(_._2).zipWithIndex.flatMap { case ((_, _, t), idx) =>
          val ts = t.split(" ").toSeq
          if (idx == 0) ts else ts.drop(o)
        }
        id -> toks.mkString(" ")
      }
    val expect = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rebuilt == expect)
  }

  test("repeated-span removal drops cross-doc 5-gram runs, keeps unique text in order") {
    val shared = "one two three four five six" // 6 tokens: two dup 5-grams
    val docs = Seq(
      (1L, s"intro $shared tail one"),
      (2L, s"$shared closing words here"),
      (3L, "completely unrelated content with no overlap at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dropRepeatedSpans(docs, "doc_id", "text", k = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // the shared 6-token run is fully covered in both docs; the rest survives
    assert(out(1L) == ((9, 6, "intro tail one")))
    assert(out(2L) == ((9, 6, "closing words here")))
    assert(out(3L)._2 == 0)
    assert(out(3L)._3 == "completely unrelated content with no overlap at all")
  }

  test("matryoshka: full-width prefix = brute force; full-table shortlist reranks exactly") {
    val many = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 31.0 + j * 7.0).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = many.filter($"vec_id" < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).toSet
    val brute = rows(SimilaritySearch.bruteForceTopK(many, qs, 5))
    // a prefix that spans every dimension IS the exact search
    assert(rows(SimilaritySearch.matryoshkaTopK(many, qs, dims = 8, k = 5)) == brute)
    // a funnel whose shortlist admits the whole table reranks to the exact answer
    assert(rows(SimilaritySearch.matryoshkaRerank(many, qs, dims = 4,
      shortlist = 40, k = 5)) == brute)
    // a narrow funnel still yields k full-precision rows per query, and
    // every emitted score is the TRUE full-dimension cosine
    val narrow = SimilaritySearch.matryoshkaRerank(many, qs, dims = 4,
      shortlist = 10, k = 5).collect()
    assert(narrow.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 5))
    val exact = SimilaritySearch.bruteForceTopK(many, qs, 39).collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("score")).toMap
    narrow.foreach { r =>
      assert(r.getAs[Double]("score") ==
        exact((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
    }
  }

  test("weighted sample: k per stratum, per-stratum fate isolation, zero weights excluded") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b", (i % 13) + 1L))
      .toDF("id", "dom", "w")
    val out = Sampling.weightedSampleKPerStratum(df, "id", "w", "dom", 5)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(out.groupBy(_._1).view.mapValues(_.length).toMap == Map("a" -> 5, "b" -> 5))
    // growing stratum b must not disturb stratum a's picks
    val aug = df.union(Seq((1001L, "b", 999L), (1003L, "b", 999L)).toDF("id", "dom", "w"))
    val out2 = Sampling.weightedSampleKPerStratum(aug, "id", "w", "dom", 5)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(out2.filter(_._1 == "a").toSet == out.filter(_._1 == "a").toSet)
    // only positive-weight rows are eligible; with 3 eligible and k=5 all 3 return
    val few = (1L to 20L).map(i => (i, "x", if (i <= 3) 1L else 0L)).toDF("id", "dom", "w")
    val picks = Sampling.weightedSampleKPerStratum(few, "id", "w", "dom", 5)
      .collect().map(_.getLong(0)).toSet
    assert(picks == Set(1L, 2L, 3L))
  }

  test("rrf fusion: exact reciprocal-rank scores, absent lists contribute zero, k cut") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((2L, 1), (4L, 2)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), "id", k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(out(2L) == ((2, 1, 1.0 / 62 + 1.0 / 61)))   // both systems
    assert(out(1L) == ((1, 0, 1.0 / 61)))              // lexical only
    assert(out(4L) == ((0, 2, 1.0 / 62)))              // dense only
    assert(out(3L) == ((3, 0, 1.0 / 63)))
    // fused order: consensus doc first despite never ranking #1 anywhere
    val order = Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), "id", k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(order == Seq(2L, 1L, 4L, 3L))
    assert(Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), "id", k = 2)
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 1L))
  }

  test("token-budget sample: exact maximal hash-ordered prefix, growth-stable, partition-invariant") {
    import org.apache.spark.sql.functions.col
    def corpus(n: Int) = (1 to n).map { i =>
      val nt = (i % 13) + 1
      (i.toLong, Seq.fill(nt)("w").mkString(" "))
    }.toDF("doc_id", "text")
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // ground truth: plain prefix over (md5(id), id) order
    def truth(n: Int, budget: Long): Seq[Long] = {
      var cum = 0L
      // strict prefix on the INCLUSIVE running sum (not greedy
      // knapsack): once the budget is crossed, nothing later is kept
      (1 to n).map(i => (md5hex(i.toString), i.toLong, (i % 13) + 1))
        .sortBy(t => (t._1, t._2))
        .flatMap { case (_, id, nt) =>
          cum += nt
          if (cum <= budget) Some(id) else None
        }
    }
    val kept = graft.operators.Sampling
      .tokenBudgetSample(corpus(200), "doc_id", "text", 300L)
      .collect().map(_.getLong(0)).toSet
    assert(kept == truth(200, 300L).toSet)
    // the two-phase bucket sum is invisible under any partitioning
    val kept13 = graft.operators.Sampling
      .tokenBudgetSample(corpus(200).repartition(13), "doc_id", "text", 300L)
      .collect().map(_.getLong(0)).toSet
    assert(kept13 == kept)
    // growth stability: adding docs only shrinks-or-keeps the old
    // docs' kept set (new rows land at hash positions, cum at any
    // old doc can only grow)
    val keptBig = graft.operators.Sampling
      .tokenBudgetSample(corpus(400), "doc_id", "text", 300L)
      .collect().map(_.getLong(0)).toSet
    assert((keptBig.filter(_ <= 200L) -- kept).isEmpty)
    // budget is respected and the cut is maximal
    val rows = graft.operators.Sampling
      .tokenBudgetSample(corpus(200), "doc_id", "text", 300L)
      .collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total <= 300L && rows.map(_.getLong(2)).max == total)
  }
}
