package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.types.MappingConfig

class FieldMapperSpec extends SparkSpec {
  import spark.implicits._

  val cfg = MappingConfig.fromJson(
    """{"field_mapping": {"sample_id": "sample_id", "stype": "sample_type", "gone": "missing_src"},
      | "static_fields": {"batch": "v1"},
      | "subject_id_candidates": {"consortium_id": "consortium_id"},
      | "center_id_field": "center",
      | "default_center_id": 1,
      | "exclude_from_load": ["consortium_id"]}""".stripMargin)

  test("mapping projection: renames, statics, auto-includes, missing-source warning") {
    val raw = Seq(("BS-1", "Blood", "IBDGC001", "MSSM"))
      .toDF("sample_id", "sample_type", "consortium_id", "center")
    val r = FieldMapper.applyMapping(raw, cfg)
    assert(r.df.columns.toSeq == Seq("sample_id", "stype", "batch", "consortium_id", "center"))
    val row = r.df.collect()(0)
    assert(row.getString(1) == "Blood" && row.getString(2) == "v1")
    assert(r.warnings.exists(_.contains("missing_src")))
  }

  test("static field overwrites mapped column; candidate not duplicated") {
    val cfg2 = MappingConfig.fromJson(
      """{"field_mapping": {"a": "x"}, "static_fields": {"a": "S"},
        | "subject_id_candidates": ["x"]}""".stripMargin)
    val r = FieldMapper.applyMapping(Seq(("v")).toDF("x"), cfg2)
    assert(r.df.columns.toSeq == Seq("a", "x"))
    assert(r.df.collect()(0).getString(0) == "S")
  }

  test("dropExcluded and projectToSchema") {
    val df = Seq((1, "a", "b")).toDF("k", "x", "y")
    assert(FieldMapper.dropExcluded(df, Seq("x", "zz")).columns.toSeq == Seq("k", "y"))
    assert(FieldMapper.projectToSchema(df, Seq("y", "k")).columns.toSeq == Seq("k", "y"))
  }
}

class SchemaValidatorSpec extends SparkSpec {
  import spark.implicits._
  import SchemaValidator._

  test("missing required column and null counts in one pass") {
    val df = Seq((Some("a"), None: Option[String]), (Some("b"), Some("x")), (None, Some("y")))
      .toDF("gsid", "stype")
    val specs = Seq(
      ColumnSpec("gsid", required = true),
      ColumnSpec("stype", required = true),
      ColumnSpec("absent_req", required = true),
      ColumnSpec("absent_opt"),
      ColumnSpec("Id", required = true),              // skip-listed
      ColumnSpec("pkcol", required = true, primaryKey = true))
    val r = validate(df, specs)
    assert(!r.isValid)
    assert(r.errors.map(e => (e.errorType, e.column, e.nullCount)).toSet == Set(
      ("missing_required_column", "absent_req", 0L),
      ("null_in_required_column", "gsid", 1L),
      ("null_in_required_column", "stype", 1L)))
  }

  test("empty spec list → valid with warning") {
    val r = validate(Seq(("x")).toDF("a"), Seq.empty)
    assert(r.isValid && r.warnings.nonEmpty)
  }
}

class ChangeDetectorSpec extends SparkSpec {
  import spark.implicits._

  test("classify new/orphaned/updated/unchanged with change map") {
    val incoming = Seq(
      ("k1", "v1", 1.0),   // unchanged
      ("k2", "v2b", 2.0),  // updated (s)
      ("k4", "v4", 4.0))   // new
      .toDF("k", "s", "x")
    val existing = Seq(
      ("k1", "v1", 1.0),
      ("k2", "v2", 2.0),
      ("k3", "v3", 3.0))   // orphaned
      .toDF("k", "s", "x")
    val out = ChangeDetector.compare(incoming, existing, Seq("k"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(
      ("k1", "unchanged"), ("k2", "updated"), ("k3", "orphaned"), ("k4", "new")))
    val k2 = out(1)
    assert(k2.getSeq[String](2) == Seq("s"))
    val changes = k2.getMap[String, org.apache.spark.sql.Row](3)
    assert(changes("s").getString(0) == "v2" && changes("s").getString(1) == "v2b")
  }

  test("'' and null compare equal; ignore fields skipped") {
    val incoming = Seq(("k1", "", "keepme")).toDF("k", "s", "created_at")
    val existing = Seq(("k1", null: String, "other")).toDF("k", "s", "created_at")
    val out = ChangeDetector.compare(incoming, existing, Seq("k")).collect()(0)
    assert(out.getString(1) == "unchanged")
  }

  test("summary counts") {
    val incoming = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val existing = Seq(("b", 3), ("c", 4)).toDF("k", "v")
    val m = ChangeDetector.summary(ChangeDetector.compare(incoming, existing, Seq("k")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("new" -> 1L, "updated" -> 1L, "orphaned" -> 1L))
  }
}

class ConflictDetectorSpec extends SparkSpec {
  import spark.implicits._

  test("center mismatch wins over gsid mismatch (elif); matches emit nothing") {
    val incoming = Seq(
      ("L1", "primary", 1, "G1"),   // exact match → no conflict
      ("L2", "primary", 2, "G2"),   // center differs → center_mismatch
      ("L3", "primary", 3, "G3a"),  // gsid differs → multi_gsid
      ("L4", "primary", 4, "G4a"))  // both differ → center_mismatch only
      .toDF("local_subject_id", "identifier_type", "center_id", "global_subject_id")
    val existing = Seq(
      ("L1", "primary", 1, "G1"),
      ("L2", "primary", 9, "G2"),
      ("L3", "primary", 3, "G3b"),
      ("L4", "primary", 9, "G4b"),
      ("L5", "primary", 5, "G5"))
      .toDF("local_subject_id", "identifier_type", "center_id", "global_subject_id")
    val out = ConflictDetector.detect(incoming, existing, "b1")
      .orderBy("local_subject_id").collect()
    assert(out.map(r => (r.getString(2), r.getString(1))).toSeq == Seq(
      ("L2", "center_mismatch"), ("L3", "multi_gsid"), ("L4", "center_mismatch")))
    assert(out.forall(_.getString(0) == "b1"))
  }

  test("duplicate incoming rows are deduped before the join") {
    val incoming = Seq(
      ("L1", "primary", 1, "G1"), ("L1", "primary", 1, "G1"))
      .toDF("local_subject_id", "identifier_type", "center_id", "global_subject_id")
    val existing = Seq(("L1", "primary", 2, "G1"))
      .toDF("local_subject_id", "identifier_type", "center_id", "global_subject_id")
    assert(ConflictDetector.detect(incoming, existing, "b").count() == 1)
  }
}

class Scd2Spec extends SparkSpec {
  import spark.implicits._
  import graft.operators.ChangeDetector

  test("SCD2: change rows only, contiguous intervals, null-safe compare, one exchange") {
    val snaps = Seq(
      (1L, 10, Option("a")), (1L, 20, Option("a")), (1L, 30, Option("b")),
      (2L, 10, None: Option[String]), (2L, 20, None: Option[String]),
      (2L, 30, Option("x")), (2L, 40, None: Option[String]))
      .toDF("k", "snap_ts", "v")
    val out = ChangeDetector.scd2History(snaps, Seq("k"), "snap_ts", Seq("v"))
    val rows = out.collect().map(r => (r.getLong(0), r.getAs[String]("v"),
      r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    assert(rows == Set(
      (1L, "a", 10, 30), (1L, "b", 30, -1),        // 20's repeat collapsed
      (2L, null, 10, 30), (2L, "x", 30, 40), (2L, null, 40, -1))) // null-safe
    // both windows share the key partitioning: exactly one exchange in
    // the FINAL plan (AdaptiveSparkPlan's toString repeats the initial
    // plan below it — split that off before counting)
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(1200))
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.AsOfJoin

  test("backward as-of: latest right at-or-before left ts, per key, null when none") {
    val left = Seq(
      (1L, "u1", 10L), (2L, "u1", 20L), (3L, "u1", 5L),
      (4L, "u2", 50L)).toDF("id", "user", "ts")
    val right = Seq(
      ("u1", 10L, "a"),   // tie with left id=1 -> inclusive match
      ("u1", 15L, "b"),
      ("u2", 60L, "c"))   // after u2's only left row -> no match
      .toDF("user", "rts", "payload")
    val out = AsOfJoin.backward(left, right, Seq("user"), "ts", "rts", Seq("payload"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("payload")).toMap
    assert(out == Map(1L -> "a", 2L -> "b", 3L -> null, 4L -> null))
  }

  test("forward as-of: earliest right at-or-after left ts, per key, null when none") {
    val left = Seq(
      (1L, "u1", 10L), (2L, "u1", 20L), (3L, "u1", 5L),
      (4L, "u2", 70L)).toDF("id", "user", "ts")
    val right = Seq(
      ("u1", 10L, "a"),   // tie with left id=1 -> inclusive match
      ("u1", 15L, "b"),
      ("u2", 60L, "c"))   // before u2's only left row -> no match
      .toDF("user", "rts", "payload")
    val out = AsOfJoin.forward(left, right, Seq("user"), "ts", "rts", Seq("payload"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("payload")).toMap
    // id=2 (ts 20) has no right row at-or-after; id=3 (ts 5) -> next is 10L "a"
    assert(out == Map(1L -> "a", 2L -> null, 3L -> "a", 4L -> null))
  }

  test("as-of plans one keyed window pass, not a range join") {
    val left = Seq((1L, "u1", 10L)).toDF("id", "user", "ts")
    val right = Seq(("u1", 5L, "x")).toDF("user", "rts", "payload")
    val p = AsOfJoin.backward(left, right, Seq("user"), "ts", "rts", Seq("payload"))
      .queryExecution.executedPlan.toString
    assert(p.contains("Window"), p.take(500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(500))
  }

  test("matched right row with NULL payload wins atomically (no carry-forward)") {
    val left = Seq((1L, "u1", 20L)).toDF("id", "user", "ts")
    val right = Seq(
      ("u1", 5L, Some("old")),
      ("u1", 15L, None: Option[String])) // the as-of match, payload NULL
      .toDF("user", "rts", "payload")
    val out = AsOfJoin.backward(left, right, Seq("user"), "ts", "rts", Seq("payload"))
      .collect()
    // must take the 15L row's null, NOT resurrect "old" from 5L
    assert(out.length == 1 && out(0).getAs[String]("payload") == null)
  }

  test("reserved working-column collisions are rejected") {
    val left = Seq((1L, "u1", 10L, "x")).toDF("id", "user", "ts", "_ats")
    val right = Seq(("u1", 5L, "p")).toDF("user", "rts", "payload")
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(left, right, Seq("user"), "ts", "rts", Seq("payload"))
    }
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.RangeJoin
  import org.apache.spark.sql.functions._

  private def tsDF(rows: Seq[(Long, String)], c: String) =
    rows.toDF("id", "_s").select(col("id"), col("_s").cast("timestamp").as(c))

  test("binned range join equals the naive inequality join") {
    val points = tsDF(Seq(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:29:00"),
      (3L, "2024-01-01 11:00:01"), (4L, "2024-01-02 00:00:00")), "ts")
    val intervals = Seq(
      (100L, "2024-01-01 10:00:00", "2024-01-01 10:30:00"),
      (200L, "2024-01-01 10:30:00", "2024-01-01 11:00:01"))
      .toDF("interval_id", "_s", "_e")
      .select(col("interval_id"), col("_s").cast("timestamp").as("w_start"),
        col("_e").cast("timestamp").as("w_end"))
    val binned = RangeJoin.pointInInterval(points, intervals, "ts", "w_start", "w_end",
        binMicros = 600L * 1000000L) // 10-min bins, intervals span several
      .select("id", "interval_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(intervals,
        col("ts") >= col("w_start") && col("ts") <= col("w_end"))
      .select("id", "interval_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(binned == naive)
    assert(binned == Set((1L, 100L), (2L, 100L), (3L, 200L))) // boundaries inclusive
  }

  test("binned range join plans an equi-join on the bin, not a cartesian") {
    val points = tsDF(Seq((1L, "2024-01-01 10:00:00")), "ts")
    val intervals = tsDF(Seq((9L, "2024-01-01 09:00:00")), "w_start")
      .select(col("id").as("interval_id"), col("w_start"),
        (col("w_start") + expr("INTERVAL 30 MINUTES")).as("w_end"))
    val p = RangeJoin.pointInInterval(points, intervals, "ts", "w_start", "w_end")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
  }
}

class ConstraintsSpec extends SparkSpec {
  import spark.implicits._
  import Constraints._

  test("constraint suite: one pass, exact counts, mixed verdicts") {
    val df = Seq(
      (1L, Some("a"), 5.0), (2L, Some("b"), 15.0), (3L, None, 5.0), (3L, Some("z"), -1.0))
      .toDF("k", "s", "v")
    val out = Constraints.check(df, Seq(
      NotNull("s"), Unique(Seq("k")), InSet("s", Seq("a", "b")),
      InRange("v", 0.0, 10.0), RowCountBetween(1L, 3L)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSet == Set(
      ("not_null", "s", 1L, false),          // one null s
      ("unique", "k", 1L, false),            // k=3 twice -> 1 surplus row
      ("in_set", "s{a|b}", 2L, false),       // null + 'z'
      ("in_range", "v[0.0,10.0]", 2L, false), // 15.0 and -1.0
      ("row_count", "[1,3]", 1L, false)))    // 4 rows > 3
  }

  test("unique treats null keys as values, not as automatic violations") {
    val df = Seq(Some(1L), None, Some(2L)).toDF("k")
    val out = Constraints.check(df, Seq(Unique(Seq("k"))))
      .collect().map(r => (r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq((0L, true))) // {1, null, 2} are 3 distinct values
    val dup = (Seq(Some(1L), None, None): Seq[Option[Long]]).toDF("k")
    val out2 = Constraints.check(dup, Seq(Unique(Seq("k"))))
      .collect().map(r => (r.getLong(2), r.getBoolean(3)))
    assert(out2.toSeq == Seq((1L, false))) // two nulls ARE a duplicate
  }

  test("constraint suite compiles to a single aggregation pass") {
    val df = Seq((1L, "a", 1.0)).toDF("k", "s", "v")
    val plan = Constraints.check(df, Seq(NotNull("s"), InRange("v", 0.0, 1.0),
      RowCountBetween(0L, 10L))).queryExecution.optimizedPlan.toString
    // no Unique constraints declared => no Expand, exactly one Aggregate chain
    assert(!plan.contains("Expand"), plan.take(400))
  }
}

class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  test("three maintenance rounds equal one full recompute, schema stays fixed") {
    val facts = (1 to 100).map(i => (i % 7L, i * 1.5)).toDF("k", "v")
    val slices = Seq(
      facts.filter($"v" <= 50), facts.filter($"v" > 50 && $"v" <= 100),
      facts.filter($"v" > 100))
    val s0 = IncrementalAgg.partial(slices.head, Seq("k"), "v")
    val state = slices.tail.foldLeft(s0)((st, delta) =>
      IncrementalAgg.merge(st, delta, Seq("k"), "v"))
    val full = IncrementalAgg.partial(facts, Seq("k"), "v")
    // re-normalized DECIMAL(28,2) each round (nullability may differ:
    // a merged sum is nullable where a fresh count is not)
    assert(state.schema.map(f => (f.name, f.dataType)) ==
      full.schema.map(f => (f.name, f.dataType)))
    val a = state.orderBy("k").collect().map(_.toSeq).toSeq
    val b = full.orderBy("k").collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}

class TopKSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.expressions.Window

  test("bounded top-k equals the window formulation and partial-aggregates") {
    val orders = Tables.orders(spark, sf001)
    val fast = TopK.perKey(orders, Seq("o_custkey"), "o_totalprice", "o_orderkey", Nil, 3)
      .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val slow = orders.withColumn("rank", row_number().over(w).cast("int"))
      .filter($"rank" <= 3)
      .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    assert(fast.orderBy("o_custkey", "rank").collect().toSeq ==
      slow.orderBy("o_custkey", "rank").collect().toSeq)
    // the scale property: an ObjectHashAggregate pair (partial map-side,
    // final post-shuffle), NOT a whole-input window sort
    val plan = fast.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(600))
    assert(plan.contains("partial_top_k_rows"), plan.take(600))
    assert(!plan.contains("Window"), plan.take(600))
  }

  test("heap orders (score DESC, tie ASC), payload rides along") {
    val df = Seq((1L, 5.0, 10L, "a"), (1L, 5.0, 9L, "b"),
      (1L, 7.0, 99L, "c"), (1L, 1.0, 1L, "d")).toDF("k", "score", "id", "tag")
    val out = TopK.perKey(df, Seq("k"), "score", "id", Seq("tag"), 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[String]("tag")).toSeq == Seq("c", "b", "a"))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }
}

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  test("exact heavy hitters equal brute force, invariant to partitioning") {
    // 100 distinct values, sketch of 10: heavy value "hot" at ~25%,
    // "warm" at ~12%; everything else spread thin
    val rows = (1 to 4000).map { i =>
      if (i % 4 == 0) "hot" else if (i % 8 == 1) "warm" else s"v${i % 97}"
    }
    val brute = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 10 > rows.size }.toMap
    for (parts <- Seq(1, 7, 32)) {
      val df = spark.createDataset(rows).toDF("v").repartition(parts)
      val out = HeavyHitters.exact(df, "v", sketchK = 10, thresholdK = 10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == brute, s"parts=$parts")
    }
  }

  test("threshold below the sketch guarantee is rejected") {
    val df = Seq("a").toDF("v")
    intercept[IllegalArgumentException] {
      HeavyHitters.exact(df, "v", sketchK = 10, thresholdK = 50)
    }: Unit
  }

  test("nulls are excluded from counts and total") {
    val df = (Seq.fill(60)(Some("x")) ++ Seq.fill(40)(None)).toDF("v")
    val out = HeavyHitters.exact(df, "v", sketchK = 4, thresholdK = 2).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 60L)))
  }
}

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  test("deletion variant matches its source; boilerplate grams identify nothing") {
    val left = Seq((1L, "ACME-alpha-7741"), (2L, "ACME-bravo-9925"), (3L, "ACME-alpha-8813"))
      .toDF("id", "name")
    val dirty = Seq((1L, "ACME-alpha-741"), (2L, "ACME-brvo-9925")).toDF("id", "name")
    // cap 4 stops the 'acme-' prefix grams shared by all five strings
    val out = FuzzyJoin.trigramJoin(left, "id", "name", dirty, "id", "name",
        threshold = 0.5, stopGramCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 1L), (2L, 2L)))
  }

  test("without a cap, jaccard is plain trigram jaccard") {
    val l = Seq((1L, "abcdef")).toDF("id", "s")
    val r = Seq((9L, "abcdez")).toDF("id", "s")
    val row = FuzzyJoin.trigramJoin(l, "id", "s", r, "id", "s", threshold = 0.1)
      .collect()(0)
    // grams: abcd ef -> {abc,bcd,cde,def} vs {abc,bcd,cde,dez}: 3 of 5
    assert(row.getLong(2) == 3L && row.getLong(3) == 4L && row.getLong(4) == 4L)
    assert(row.getDouble(5) == 0.6)
  }
}

class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.types._

  test("widen lattice: numerics, decimals, decimal-vs-double, incompatible throws") {
    assert(SchemaEvolution.widen(IntegerType, LongType) == LongType)
    assert(SchemaEvolution.widen(LongType, DoubleType) == DoubleType)
    // int/long ⊔ float escalate to double (float rounds ints past
    // 2^24); byte/short fit a float exactly and stay float
    assert(SchemaEvolution.widen(IntegerType, FloatType) == DoubleType)
    assert(SchemaEvolution.widen(FloatType, LongType) == DoubleType)
    assert(SchemaEvolution.widen(ShortType, FloatType) == FloatType)
    assert(SchemaEvolution.widen(FloatType, ByteType) == FloatType)
    assert(SchemaEvolution.widen(DecimalType(10, 2), DecimalType(12, 4)) == DecimalType(12, 4))
    assert(SchemaEvolution.widen(DecimalType(18, 2), DoubleType) == DoubleType)
    assert(SchemaEvolution.widen(LongType, DecimalType(18, 2)) == DecimalType(22, 2))
    assert(SchemaEvolution.widen(DecimalType(10, 0), IntegerType) == DecimalType(10, 0))
    intercept[IllegalArgumentException] {
      SchemaEvolution.widen(StringType, LongType)
    }: Unit
    // loud, not lossy: a union needing >38 digits throws instead of
    // silently nulling overflowed values under non-ANSI casts
    intercept[IllegalArgumentException] {
      SchemaEvolution.widen(DecimalType(38, 0), DecimalType(10, 10))
    }: Unit
  }

  test("missing columns become typed nulls; first-seen column order wins") {
    val a = Seq((1, "x")).toDF("k", "s")
    val b = Seq((2L, 1.5)).toDF("k", "v")
    val out = SchemaEvolution.unionEvolved(Seq(a, b))
    assert(out.columns.toSeq == Seq("k", "s", "v"))
    assert(out.schema("k").dataType == LongType)
    val rows = out.orderBy("k").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "x" && rows(0).isNullAt(2))
    assert(rows(1).getLong(0) == 2L && rows(1).isNullAt(1) && rows(1).getDouble(2) == 1.5)
  }
}

class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bloom semi-join equals exact semi-join at coarse fpp") {
    val probe = (1L to 2000L).toDF("k")
    val build = (1L to 2000L).filter(_ % 13 == 0).toDF("b")
    val exact = probe.join(build.select($"b".as("k")), Seq("k"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    // even a 30% fpp bloom must give the exact answer — false
    // positives die in the exact join
    for (fpp <- Seq(0.3, 0.01)) {
      val got = BloomJoin.semiJoin(probe, "k", build, "b", 200L, fpp)
        .collect().map(_.getLong(0)).toSet
      assert(got == exact, s"fpp=$fpp")
    }
  }

  test("probe filter is the native might_contain expression, not a UDF") {
    // spark.range, not toDF: a LocalRelation probe gets its filter
    // EVALUATED at optimization time (ConvertToLocalRelation), which
    // is itself proof of codegen-compatibility but leaves no Filter
    // node to assert on
    val probe = spark.range(1, 101).select($"id".as("k"))
    val build = (1L to 100L).filter(_ % 7 == 0).toDF("b")
    val out = BloomJoin.semiJoin(probe, "k", build, "b", 20L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("might_contain"), s"native probe missing:\n$plan")
    assert(!plan.contains("UDF"), s"UDF boundary survived:\n$plan")
  }

  test("empty build side yields the empty semi-join") {
    val probe = (1L to 50L).toDF("k")
    val build = Seq.empty[Long].toDF("b")
    assert(BloomJoin.semiJoin(probe, "k", build, "b", 10L).count() == 0L)
  }
}

class AsOfToleranceSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.AsOfJoin

  private def tsDF2(rows: Seq[(Long, String)], tsName: String) =
    rows.toDF("id", "_s").select($"id", $"_s".cast("timestamp").as(tsName))

  test("tolerance discards a stale backward match but keeps a fresh one") {
    val left = tsDF2(Seq((1L, "2024-01-01 12:00:00"), (2L, "2024-01-02 12:00:00")), "ts")
      .withColumn("user", lit(7L))
    val right = tsDF2(Seq((100L, "2024-01-01 11:30:00")), "rts")
      .withColumn("user", lit(7L)).select($"user", $"rts", $"id".as("pid"))
    val out = AsOfJoin.backwardWithin(left, right, Seq("user"), "ts", "rts",
        Seq("pid"), toleranceMicros = 3600L * 1000000)
      .orderBy("id").collect()
    assert(out(0).getAs[java.lang.Long]("pid") == 100L) // 30 min old: kept
    assert(out(1).isNullAt(out(1).fieldIndex("pid")))   // 25 h old: discarded
  }
}

class TypedAggFallbackSpec extends SparkSpec {
  import spark.implicits._

  test("custom aggregates survive the sort-based fallback (serde-heavy path)") {
    // fallbackThreshold=1 forces ObjectHashAggregate to spill to the
    // sort-based path after one group, so every buffer round-trips
    // through serialize/deserialize — the riskiest custom code
    val prev = spark.conf.getOption("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    try {
      val df = (1 to 5000).map(i => (i % 97L, i.toDouble, i.toLong, s"p$i"))
        .toDF("k", "score", "tie", "p")
      val top = TopK.perKey(df, Seq("k"), "score", "tie", Seq("p"), 3)
      assert(top.count() == 97L * 3)
      // per-group best = the largest score in that residue class
      val best = top.filter($"rank" === 1).orderBy("k").collect()
      assert(best.length == 97 && best.forall(r => r.getDouble(2) > 4900.0))

      val hh = HeavyHitters.exact(
        df.select(when($"k" < 20, lit("hot")).otherwise(concat(lit("v"), $"k")).as("v")),
        "v", sketchK = 10, thresholdK = 10).collect() // "hot" ≈ 20.6% > 10%
      assert(hh.map(_.getString(0)).toSeq == Seq("hot"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", v)
        case None => spark.conf.unset("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      }
    }
  }
}

class ApproxPercentileSpec extends SparkSpec {
  import spark.implicits._

  test("percentile_approx stays within the declared rank error of exact") {
    // sketch layouts aren't oracle-comparable (same stance as HLL++),
    // so the built-in percentile sketch — the 100 TB percentile path,
    // where exact percentile() would shuffle every value — is pinned
    // by its rank-error contract instead: accuracy=1000 ⇒ ±1/1000
    // a near-continuous column: a discrete one (l_quantity, 50 values)
    // carries ~2% tie mass per value, so the rank of ANY returned value
    // jumps in 2% steps and the ±0.1% contract can't be observed
    val li = Tables.lineitem(spark, sf001).select($"l_extendedprice".cast("double").as("v"))
    val n = li.count().toDouble
    val ap = li.agg(expr("percentile_approx(v, array(0.25, 0.5, 0.95), 1000)"))
      .head().getSeq[Double](0)
    for ((p, est) <- Seq(0.25, 0.5, 0.95).zip(ap)) {
      val rank = li.filter($"v" <= est).count().toDouble / n
      assert(math.abs(rank - p) <= 1.0 / 1000 + 0.01,
        s"p=$p est=$est rank=$rank")
    }
  }
}

class RobustSpec extends SparkSpec {
  import spark.implicits._

  test("winsorize clips to exact interpolated bounds; stats count each tail") {
    // 0..10 in one group: p10 = 1.0, p90 = 9.0 (exact grid points)
    val df = (0 to 10).map(i => ("g", i.toDouble)).toDF("k", "v")
    val s = Robust.winsorizeStats(df, "v", Seq("k"), 0.10, 0.90).collect()(0)
    assert(s.getAs[Double]("q_lo") == 1.0 && s.getAs[Double]("q_hi") == 9.0)
    assert(s.getAs[Long]("n_clipped_lo") == 1 && s.getAs[Long]("n_clipped_hi") == 1)
    // clipped sum: 1 + 1..9 + 9 = 55 − 0 − 10 + 1 + 9 = 55
    assert(s.getAs[Double]("sum_clipped") == 55.0)
  }

  test("mad outliers: flags the far point, mad=0 group flags nothing") {
    // group a (7 values, median = 4th smallest = 6): 100 is out, 9 is not
    val a = Seq(3.0, 4.0, 5.0, 6.0, 7.0, 9.0, 100.0).map(("a", _))
    // group b: all equal → MAD 0 → rule disabled even for the same spread
    val b = Seq(2.0, 2.0, 2.0, 2.0).map(("b", _))
    val out = Robust.madOutlierStats((a ++ b).toDF("k", "v"), "v", Seq("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("med"), r.getAs[Double]("mad"),
          r.getAs[Long]("n_outliers")))).toMap
    assert(out("a")._1 == 6.0)
    assert(out("a")._2 == 2.0)                   // |x−6| = (3,2,1,0,1,3,94) → median 2
    assert(out("a")._3 == 1L)                    // only 100 exceeds 3·1.4826·2 = 8.8956
    assert(out("b") == ((2.0, 0.0, 0L)))
  }
}

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("exact OLS recovers a perfect linear relation; corr hits the poles") {
    // y = 2x + 3 exactly, 2-decimal fixed point
    val df = (1 to 50).map(i => (i.toDouble, 2.0 * i + 3.0, -i.toDouble))
      .toDF("x", "y", "z")
    val fit = Stats.olsFit(df, "x", 2, "y", 2).collect()(0)
    assert(fit.getAs[Long]("n") == 50L)
    assert(fit.getAs[Double]("slope") == 2.0)
    assert(fit.getAs[Double]("intercept") == 3.0)
    assert(fit.getAs[Double]("r2") == 1.0)
    val m = Stats.pearsonMatrix(df, Seq("x" -> 2, "y" -> 2, "z" -> 2))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("corr"))
      .toMap
    assert(m(("x", "y")) == 1.0)   // perfectly correlated
    assert(m(("x", "z")) == -1.0)  // perfectly anti-correlated
    assert(m(("y", "z")) == -1.0)
  }

  test("two-feature OLS recovers an exact plane; collinear features never throw") {
    // y = 2u − 3v + 5 exactly, u and v not collinear
    val df = (1 to 60).map { i =>
      val (u, v) = (i.toDouble, ((i * 7) % 11).toDouble)
      (u, v, 2.0 * u - 3.0 * v + 5.0)
    }.toDF("u", "v", "y")
    val fit = Stats.olsFit2(df, "u", 2, "v", 2, "y", 2).collect()(0)
    // ulp-tight, not bit-exact: the fixed double op sequence of the
    // Cramer solve rounds (cross-ENGINE bit-identity is the oracle's
    // claim; algebraic exactness is not)
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))
    assert(near(fit.getAs[Double]("slope_1"), 2.0))
    assert(near(fit.getAs[Double]("slope_2"), -3.0))
    assert(near(fit.getAs[Double]("intercept"), 5.0))
    assert(near(fit.getAs[Double]("r2"), 1.0))
    // collinear features: the determinant collapses to zero up to
    // double rounding — the fit must not throw, and its answer is
    // meaningless by contract (NaN or rounding noise)
    val col2 = df.withColumn("v", col("u") * 2)
    val bad = Stats.olsFit2(col2, "u", 2, "v", 2, "y", 2).collect()(0)
    assert(bad.getAs[Long]("n") == 60L) // ran to completion
  }

  test("per-group OLS: each segment recovers its own exact line") {
    // segment a: y = 2x + 1; segment b: y = -x + 10
    val df = ((1 to 40).map(i => ("a", i.toDouble, 2.0 * i + 1.0)) ++
      (1 to 40).map(i => ("b", i.toDouble, -i.toDouble + 10.0))).toDF("g", "x", "y")
    val out = Stats.olsFitBy(df, Seq("g"), "x", 2, "y", 2)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("slope"), r.getAs[Double]("intercept"),
          r.getAs[Double]("r2")))).toMap
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))
    for ((g, (sl, ic)) <- Seq("a" -> ((2.0, 1.0)), "b" -> ((-1.0, 10.0)))) {
      assert(out(g)._1 == sl && out(g)._2 == ic, s"segment $g: ${out(g)}")
      assert(near(out(g)._3, 1.0), s"segment $g r2: ${out(g)._3}")
    }
  }

  test("moments are exact integer sums: results partitioning-invariant bit-for-bit") {
    val df = (1L to 500L).map(i => ((i * 37 % 101).toDouble / 4, (i * 53 % 97).toDouble / 8))
      .toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.olsFit(d, "a", 3, "b", 3).collect()(0).toString
    assert(run(df.repartition(1)) == run(df.repartition(13)))
  }

  test("longPath: loud failure past the int64 envelope; bit-identical to decimal inside it") {
    // values at 3e9 magnitude: each product is ~9e18 > the 4e18
    // per-product representability bound — the post-hoc proof must
    // fail LOUDLY (raise_error), never wrap silently
    val big = (1 to 10).map(i => (3.0e9 + i, 3.0e9 - i)).toDF("x", "y")
    val ex = intercept[Exception] {
      Stats.olsFit(big, "x", 0, "y", 0, longPath = true).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("magnitude bound exceeded")), msgs(ex).mkString("|"))
    // the default decimal path handles the same data exactly
    val fit = Stats.olsFit(big, "x", 0, "y", 0).collect()(0)
    assert(fit.getAs[Double]("slope") == -1.0)
    // inside the envelope the two paths are bit-identical (incl.
    // negative values exercising the two's-complement hi/lo split)
    val df = (1L to 500L).map(i =>
        ((i * 37 % 101).toDouble / 4 - 12.0, (i * 53 % 97).toDouble / 8 - 6.0))
      .toDF("a", "b")
    assert(Stats.olsFit(df, "a", 3, "b", 3).collect()(0).toString ==
      Stats.olsFit(df, "a", 3, "b", 3, longPath = true).collect()(0).toString)
    assert(Stats.pearsonMatrix(df, Seq("a" -> 3, "b" -> 3)).collect().map(_.toString).toSeq ==
      Stats.pearsonMatrix(df, Seq("a" -> 3, "b" -> 3), longPath = true)
        .collect().map(_.toString).toSeq)
    assert(Stats.olsFitBy(df.withColumn("g", col("a") > 0), Seq("g"), "a", 3, "b", 3)
        .orderBy("g").collect().map(_.toString).toSeq ==
      Stats.olsFitBy(df.withColumn("g", col("a") > 0), Seq("g"), "a", 3, "b", 3,
        longPath = true).orderBy("g").collect().map(_.toString).toSeq)
  }
}

class LinkageSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Linkage
  import graft.operators.Linkage.CompareField

  test("blocking quality: candidate count from sizes, completeness vs truth") {
    import graft.operators.Linkage
    // blocks: b1 has 3 records, b2 has 2 → candidates C(3,2)+C(2,2)=4;
    // total C(5,2)=10 → reduction 0.6. Truth: (1,2) same block (caught),
    // (1,4) cross block (missed) → completeness 0.5
    val df = Seq((1L, "b1"), (2L, "b1"), (3L, "b1"), (4L, "b2"), (5L, "b2"))
      .toDF("id", "blk")
    val truth = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val r = Linkage.blockingQuality(df, "id", Seq("blk"), truth).collect()(0)
    assert(r.getAs[Long]("n_records") == 5L && r.getAs[Long]("n_blocks") == 2L)
    assert(r.getAs[Long]("candidate_pairs") == 4L)
    assert(r.getAs[Long]("total_pairs") == 10L)
    assert(r.getAs[Double]("reduction_ratio") == 0.6)
    assert(r.getAs[Long]("n_truth") == 2L && r.getAs[Long]("n_caught") == 1L)
    assert(r.getAs[Double]("pair_completeness") == 0.5)
  }

  test("fs linkage: exact weight sums, null-safe agreement, blocking bounds pairs") {
    val df = Seq(
      (1L, "b1", "x", Some("p")),
      (2L, "b1", "x", Some("p")),   // agrees with 1 on both: 3+2 = 5
      (3L, "b1", "y", None),        // disagrees f1 with 1/2; null f2
      (4L, "b1", "y", None),        // agrees with 3 on f1 AND null==null f2
      (5L, "b2", "x", Some("p")))   // other block: never paired with 1
      .toDF("id", "blk", "f1", "f2")
    val fields = Seq(
      CompareField(r => r.getField("f1"), 3, -3),
      CompareField(r => r.getField("f2"), 2, -2))
    val out = Linkage.selfScore(df, "id", Seq("blk"), fields, minScore = -99)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3)))).toMap
    assert(out((1L, 2L)) == ((2, 5)))    // both agree
    assert(out((3L, 4L)) == ((2, 5)))    // null <=> null counts as agreement
    assert(out((1L, 3L)) == ((0, -5)))   // both disagree
    assert(!out.contains((1L, 5L)) && !out.contains((2L, 5L))) // blocked
    // threshold keeps only strong pairs
    val strong = Linkage.selfScore(df, "id", Seq("blk"), fields, minScore = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong == Set((1L, 2L), (3L, 4L)))
  }

  test("fs EM: one iteration matches the hand-computed fixture") {
    // one block, ids 1..4 with field f: values (x, x, x, y) →
    // pairs (1,2)(1,3)(2,3) agree [3 pairs], (1,4)(2,4)(3,4) disagree
    // [3]... use values (x,x,x,y) → agree C(3,2)=3, disagree 3·1=3.
    // Want agree=3, disagree=1 → ids 1,2,3 share x; block pairs with
    // a lone y would add 3 disagrees. Use TWO fixture rows per
    // pattern instead: block b1 = (x,x,x) → 3 agreeing pairs; block
    // b2 = (p,q) → 1 disagreeing pair.
    //
    // Hand EM (λ=0.5, m=0.9, u=0.1, Q=1e9):
    //  γ=1 (cnt 3): pm=0.45 pu=0.05 w=0.9  → wq=900000000
    //  γ=0 (cnt 1): pm=0.05 pu=0.45 w=0.1  → wq=100000000
    //  sumW=2.8e9 sumWg=2.7e9 → m₁=27/28=0.9642857142857143
    //  sumNW=1.2e9 sumNWg=3e8 → u₁=0.25
    //  λ₁ = 2.8e9 / (1e9·4) = 0.7
    val df = Seq((1L, "b1", "x"), (2L, "b1", "x"), (3L, "b1", "x"),
      (4L, "b2", "p"), (5L, "b2", "q")).toDF("id", "blk", "f")
    val p = Linkage.estimateParamsEM(df, "id", Seq("blk"),
      Seq(r => r.getField("f")), iters = 1)
    assert(p.nPairs == 4L)
    assert(p.patternCounts == Map(1 -> 3L, 0 -> 1L))
    assert(p.m(0) == 27.0 / 28.0)
    assert(p.u(0) == 0.25)
    assert(p.lambda == 0.7)
  }

  test("fs EM: deterministic across runs and partitionings, clamps hold") {
    val rows = (1L to 200L).map(i =>
      (i, (i % 10).toString, if (i % 3 == 0) "a" else s"v$i", (i % 7).toString))
    val fields: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(r => r.getField("f1"), r => r.getField("f2"))
    def run(parts: Int) = {
      val df = rows.toDF("id", "blk", "f1", "f2").repartition(parts)
      Linkage.estimateParamsEM(df, "id", Seq("blk"), fields, iters = 5)
    }
    val a = run(1); val b = run(13)
    assert(a.lambda == b.lambda)
    assert(a.m.toSeq == b.m.toSeq && a.u.toSeq == b.u.toSeq)
    (a.m ++ a.u :+ a.lambda).foreach(x =>
      assert(x >= 0.000001 && x <= 0.999999, s"clamp violated: $x"))
    // agreement is match evidence on every field: m > u
    assert(a.m.zip(a.u).forall { case (m, u) => m > u })
  }

  test("fs EM: oversized blocks are capped by deterministic md5-fate subsample, loudly") {
    // one block of 50 rows, one of 5: maxBlock=10 caps only the big
    // block, and the capped estimate equals the estimate over the
    // pre-capped subset computed independently (the cap is a
    // DEFINED deterministic subsample, not an arbitrary truncation)
    val rows = (1L to 50L).map(i => (i, "big", (i % 4).toString)) ++
      (101L to 105L).map(i => (i, "small", (i % 2).toString))
    val df = rows.toDF("id", "blk", "f")
    val fields: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(r => r.getField("f"))
    val capped = Linkage.estimateParamsEM(df, "id", Seq("blk"), fields,
      iters = 3, maxBlock = 10)
    assert(capped.cappedBlocks == 1L && capped.droppedRows == 40L)
    // expected kept ids: the 10 smallest md5(id)-fates in 'big' + all of 'small'
    val md = java.security.MessageDigest.getInstance("MD5")
    def fate(i: Long) = md.digest(i.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val keptBig = (1L to 50L).sortBy(i => (fate(i), i)).take(10).toSet
    val subset = rows.filter { case (i, b, _) => b == "small" || keptBig(i) }
      .toDF("id", "blk", "f")
    val direct = Linkage.estimateParamsEM(subset, "id", Seq("blk"), fields,
      iters = 3, maxBlock = 1000000)
    assert(direct.cappedBlocks == 0L && direct.droppedRows == 0L)
    assert(capped.nPairs == direct.nPairs)
    assert(capped.patternCounts == direct.patternCounts)
    assert(capped.lambda == direct.lambda)
    assert(capped.m.toSeq == direct.m.toSeq && capped.u.toSeq == direct.u.toSeq)
    // pair volume is bounded: C(10,2) + C(5,2), never C(50,2)
    assert(capped.nPairs == 45L + 10L)
  }
}
