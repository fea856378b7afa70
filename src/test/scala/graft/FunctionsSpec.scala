package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions._

class CoercionsSpec extends SparkSpec {
  import spark.implicits._

  private def run1(c: org.apache.spark.sql.Column, v: String): Any =
    Seq(Option(v)).toDF("x").select(c.as("y")).collect()(0).get(0)

  test("F1 null tokens → null; other values trimmed") {
    for (v <- Seq(null, "", "  ", "NULL", "null", "Na", "N/A", " na "))
      assert(run1(Coercions.normalizeNullTokens($"x"), v) == null, s"value: '$v'")
    assert(run1(Coercions.normalizeNullTokens($"x"), "  abc ") == "abc")
  }

  test("F2 int coercion: int(float(s)) semantics, null on fail") {
    assert(run1(Coercions.toIntLenient($"x"), "5") == 5)
    assert(run1(Coercions.toIntLenient($"x"), "5.9") == 5)   // truncation
    assert(run1(Coercions.toIntLenient($"x"), "-5.9") == -5) // toward zero
    assert(run1(Coercions.toIntLenient($"x"), " 12 ") == 12)
    assert(run1(Coercions.toIntLenient($"x"), "1e3") == 1000)
    assert(run1(Coercions.toIntLenient($"x"), "abc") == null)
    assert(run1(Coercions.toIntLenient($"x"), "NA") == null)
    assert(run1(Coercions.toIntLenient($"x"), "99999999999999999999") == null) // overflow
  }

  test("F3 float coercion") {
    assert(run1(Coercions.toDoubleLenient($"x"), "5.5") == 5.5)
    assert(run1(Coercions.toDoubleLenient($"x"), ".5") == 0.5)
    assert(run1(Coercions.toDoubleLenient($"x"), "+2e-1") == 0.2)
    assert(run1(Coercions.toDoubleLenient($"x"), "5.5.5") == null)
    assert(run1(Coercions.toDoubleLenient($"x"), "x") == null)
  }

  test("F4 boolean: lenient (false fallback, null only for null tokens)") {
    for (v <- Seq("true", "T", "yes", "Y", "1"))
      assert(run1(Coercions.toBooleanLenient($"x"), v) == true, v)
    for (v <- Seq("false", "f", "no", "N", "0", "garbage", "2"))
      assert(run1(Coercions.toBooleanLenient($"x"), v) == false, v)
    assert(run1(Coercions.toBooleanLenient($"x"), "NA") == null)
  }

  test("F5/F6 date and timestamp parsing, null on fail") {
    assert(run1(Coercions.toDateLenient($"x"), "2024-01-10").toString == "2024-01-10")
    assert(run1(Coercions.toDateLenient($"x"), "01/15/2024") == null)
    assert(run1(Coercions.toDateLenient($"x"), "not-a-date") == null)
    assert(run1(Coercions.toTimestampLenient($"x"), "2024-01-10T12:30:00Z").toString
      == "2024-01-10 12:30:00.0")
    assert(run1(Coercions.toTimestampLenient($"x"), "2024-01-10 12:30:00").toString
      == "2024-01-10 12:30:00.0")
    assert(run1(Coercions.toTimestampLenient($"x"), "junk") == null)
  }

  test("F8 name normalization") {
    assert(run1(Coercions.normalizeName($"x"), "  Mount_Sinai ") == "mount sinai")
  }

  test("F9 registration year normalization with 1900-2100 range") {
    assert(run1(Coercions.normalizeRegistrationYear($"x"), "2024-01-15").toString == "2024-01-01")
    assert(run1(Coercions.normalizeRegistrationYear($"x"), "2024").toString == "2024-01-01")
    assert(run1(Coercions.normalizeRegistrationYear($"x"), "01/15/2024").toString == "2024-01-01")
    assert(run1(Coercions.normalizeRegistrationYear($"x"), "1850") == null)
    assert(run1(Coercions.normalizeRegistrationYear($"x"), "bogus") == null)
  }
}

class GsidSpec extends SparkSpec {
  import spark.implicits._

  test("base32 known values and length") {
    assert(Gsid.encodeBase32(0L, 5) == "00000")
    assert(Gsid.encodeBase32(31L, 2) == "0Z")
    assert(Gsid.encodeBase32(32L, 2) == "10")
    // 33554431 = 32^5 - 1 → all Z
    assert(Gsid.encodeBase32(33554431L, 5) == "ZZZZZ")
  }

  test("base32 round-trips against the alphabet (property)") {
    val gen = Gen.chooseNum(0L, (1L << 55) - 1)
    val samples = Iterator.continually(gen.sample).flatten.take(500)
    for (n <- samples ++ Iterator(0L, 1L, 31L, 32L, (1L << 55) - 1)) {
      val s = Gsid.encodeBase32(n, 11)
      assert(s.length == 11)
      val decoded = s.foldLeft(0L)((acc, ch) => acc * 32 + Gsid.Alphabet.indexOf(ch))
      assert(decoded == n)
    }
  }

  test("minted GSIDs match format spec (21 chars, prefix, charset)") {
    val ids = (1 to 500).map(_ => Gsid.mint())
    ids.foreach { id =>
      assert(id.length == 21)
      assert(id.startsWith("GSID-"))
      assert(id.matches(Gsid.FormatRegex))
      assert(!id.drop(5).exists("ILOU".contains(_)))
    }
    assert(ids.distinct.size == ids.size)
  }

  test("timestamp part is lexicographically sortable") {
    val t1 = Gsid.mint(1000000L, 42L)
    val t2 = Gsid.mint(2000000L, 42L)
    assert(t1 < t2)
  }

  test("generate() column mints unique, valid ids per row") {
    val df = spark.range(1000).select(Gsid.generate().as("gsid"))
    val rows = df.collect().map(_.getString(0))
    assert(rows.forall(_.matches(Gsid.FormatRegex)))
    assert(rows.distinct.length == rows.length)
    val ok = spark.range(10).select(Gsid.isValid(Gsid.generate()).as("v"))
      .collect().forall(_.getBoolean(0))
    assert(ok)
  }

  test("deterministic gsid is format-valid and stable") {
    val df = Seq("k1", "k2", "k1").toDF("k")
      .select(Gsid.deterministic($"k").as("gsid"))
    val got = df.collect().map(_.getString(0))
    assert(got(0) == got(2) && got(0) != got(1))
    got.foreach(g => assert(g.matches(Gsid.FormatRegex), g))
  }

  test("base32 column expression") {
    val got = Seq(32L).toDF("n").select(Gsid.base32($"n", 2).as("s")).collect()(0).getString(0)
    assert(got == "10")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("Ratcliff-Obershelp ratio matches difflib.SequenceMatcher") {
    // expected values generated with CPython difflib
    val cases = Seq(
      ("abcd", "bcde", 0.75),
      ("mount sinai", "mt sinai", 0.8421052631578947),
      ("cedars-sinai", "cedars sinai", 0.9166666666666666),
      ("university of chicago", "univ of chicago", 0.8333333333333334),
      ("", "", 1.0),
      ("a", "", 0.0),
      ("same", "same", 1.0),
      ("johns hopkins", "john hopkins", 0.96),
      ("abcabc", "cbacba", 0.5))
    for ((a, b, exp) <- cases)
      assert(math.abs(Similarity.ratio(a, b) - exp) < 1e-12, s"($a, $b)")
  }

  test("levenshtein ratio column agrees with manual computation") {
    val got = Seq(("kitten", "sitting")).toDF("a", "b")
      .select(Similarity.levenshteinRatio($"a", $"b").as("r")).collect()(0).getDouble(0)
    assert(math.abs(got - (1.0 - 3.0 / 7.0)) < 1e-12)
  }
}

class IdValidationSpec extends SparkSpec {
  import spark.implicits._

  private def check(id: String, idType: String = "primary"): Row =
    Seq(Option(id)).toDF("x")
      .select(IdValidation.validate($"x", lit(idType)).as("v"))
      .select("v.valid", "v.severity", "v.warnings").collect()(0)

  test("empty / whitespace ids are invalid") {
    for (v <- Seq(null, "", "   ")) {
      val r = check(v)
      assert(!r.getBoolean(0) && r.getString(1) == "error")
      assert(r.getSeq[String](2) == Seq("ID is empty or whitespace"))
    }
  }

  test("error patterns short-circuit (case-insensitive)") {
    for (v <- Seq("test123", "TEST-9", "demoX", "Example1", "000", "9999", "xxx")) {
      val r = check(v)
      assert(!r.getBoolean(0) && r.getString(1) == "error", v)
      assert(r.getSeq[String](2).head.startsWith("ID matches error pattern:"), v)
    }
  }

  test("warning ladder matches reference order and duplicates") {
    val r = check("ab") // short alpha fires twice (pattern + final length check)
    assert(r.getBoolean(0) && r.getString(1) == "warning")
    assert(r.getSeq[String](2) ==
      Seq("ID is very short (2 characters)", "ID is very short (2 characters)"))

    val r2 = check("123") // short numeric + purely numeric
    assert(r2.getSeq[String](2) == Seq(
      "ID is very short (3 digits)",
      "ID is purely numeric for type 'primary' (may be ambiguous)"))

    val r3 = check("id with space")
    assert(r3.getSeq[String](2) == Seq("ID contains whitespace", "ID contains special characters"))

    val r4 = check("GAP-001")
    assert(r4.getBoolean(0) && r4.getString(1) == "info" && r4.getSeq[String](2).isEmpty)
  }

  test("numeric-only allowed for whitelisted identifier types") {
    val r = check("123456", "niddk_no")
    assert(r.getBoolean(0) && r.getString(1) == "info")
    val r2 = check("123456", "local_id")
    assert(r2.getString(1) == "warning")
  }
}

class HistogramSpec extends SparkSpec {
  import spark.implicits._

  test("fixed histogram: exact counts incl. under/overflow, null-safe, partition-invariant") {
    val df = Seq[java.lang.Double](-5.0, 0.0, 9.999, 10.0, 15.0, 39.9, 40.0, 55.0, null)
      .toDF("v")
    def counts(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.agg(Histograms.histFixed(col("v"), 0.0, 10.0, 4).as("h"))
        .collect()(0).getSeq[Long](0)
    val c = counts(df)
    // slots: under | [0,10) | [10,20) | [20,30) | [30,40) | over
    assert(c == Seq(1L, 2L, 2L, 0L, 1L, 2L))
    assert(c.sum == 8L)                       // the null is skipped, nothing else dropped
    assert(counts(df.repartition(7)) == c)    // merge path = single-partition path
    assert(counts(df.repartition(1)) == c)
  }

  test("histogram quantiles: interpolation formula exact on a uniform distribution") {
    // 100 values at 0.5, 1.5, …, 99.5 over 10 equal buckets: every
    // interpolated quantile lands exactly on 100·p
    val df = (0 until 100).map(i => ("x", i + 0.5)).toDF("g", "v")
    val h = df.groupBy("g").agg(Histograms.histFixed(col("v"), 0.0, 10.0, 10).as("h"))
    val q = Histograms.quantilesFromHistogram(h, Seq("g"), "h", 0.0, 10.0,
      Seq("p50" -> 0.5, "p90" -> 0.9)).collect()(0)
    assert(q.getAs[Double]("p50") == 50.0)
    assert(q.getAs[Double]("p90") == 90.0)
  }

  test("drift: scale-free zero for same shape, TV=1 on disjoint support, exact midpoint") {
    import org.apache.spark.sql.functions.col
    def drift(ha: Seq[Long], hb: Seq[Long]): (Long, Double) = {
      val r = Seq((ha.toArray, hb.toArray)).toDF("ha", "hb")
        .select(Histograms.l1Drift(col("ha"), col("hb")).as("l1"),
          Histograms.tvDistance(col("ha"), col("hb")).as("tv")).collect()(0)
      (r.getLong(0), r.getDouble(1))
    }
    // same shape at different scale: cross-multiplication cancels exactly
    assert(drift(Seq(0L, 10L, 5L), Seq(0L, 20L, 10L)) == ((0L, 0.0)))
    // disjoint supports: all mass moved
    assert(drift(Seq(5L, 0L), Seq(0L, 7L)) == ((70L, 1.0)))
    // half the mass moved: |3·4−1·4| + |1·4−3·4| = 16, TV = 16/32
    assert(drift(Seq(3L, 1L), Seq(1L, 3L)) == ((16L, 0.5)))
  }
}
