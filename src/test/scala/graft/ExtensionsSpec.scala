package graft

class ExtensionsSpec extends SparkSpec {

  test("extension injection registers without error") {
    // getOrCreate would reuse the shared session (extensions only apply
    // at instantiation), so verify injection against a fresh
    // SparkSessionExtensions instance.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("a frame moved onto a session clone plans under the clone's conf, the shared conf untouched") {
    import org.apache.spark.sql.graftbridge.Bridge
    val left = spark.range(1000).toDF("k").localCheckpoint(false)
    val right = spark.range(10).toDF("k")
    val before = spark.conf.getAll
    val clone = Bridge.cloneSession(spark)
    clone.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def broadcasts(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      l.join(r, "k").queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    assert(broadcasts(left, right))
    val (l2, r2) = (Bridge.inSession(left, clone), Bridge.inSession(right, clone))
    assert(!broadcasts(l2, r2))
    assert(l2.join(r2, "k").count() == 10)
    assert(spark.conf.getAll == before)
  }

  test("gen_gsid and base32_encode work through SQL") {
    import graft.functions.{Base32Encode, GenerateGsid}
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("gen_gsid", _ => GenerateGsid(), "built-in")
    reg.createOrReplaceTempFunction("base32_encode",
      args => Base32Encode(args.head, args(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    val rows = spark.sql("SELECT gen_gsid() AS g, base32_encode(32L, 2) AS b").collect()
    assert(rows(0).getString(0).matches(graft.functions.Gsid.FormatRegex))
    assert(rows(0).getString(1) == "10")
  }

  test("top_k_rows and misra_gries aggregate through SQL") {
    import spark.implicits._
    graft.GraftSql.registerFunctions(spark)
    Seq((1.0, 1L, "a"), (3.0, 2L, "b"), (2.0, 3L, "c"))
      .toDF("s", "t", "p").createOrReplaceTempView("tk")
    val top = spark.sql(
      "SELECT top_k_rows(struct(s, t, p), 2) AS r FROM tk").collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getString(2)) == Seq("b", "c")) // best first
    // a singleton-only stream can legitimately empty a k=2 summary
    // (every miss decrements); a > n/(k+1) value must survive
    Seq("a", "a", "b", "a", "c", "a").toDF("p").createOrReplaceTempView("mgx")
    val mg = spark.sql(
      "SELECT misra_gries(p, 2) AS c FROM mgx").collect()(0).getSeq[String](0)
    assert(mg.contains("a"), mg.toString)
    // wrong input type dies at analysis, not mid-task
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT top_k_rows(struct(p, t), 2) FROM tk").collect()
    }: Unit
  }

  test("kmv_distinct: exact below k, ~accurate above, merge-invariant, SQL-callable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.KmvDistinct.kmvDistinct
    val small = (1 to 10).map(i => s"v$i").toDF("x")
    assert(small.agg(kmvDistinct(col("x"), 64)).collect()(0).getLong(0) == 10L)
    // 5000 distinct values, k=64: deterministic estimate within ~3/sqrt(k)
    val big = (1 to 5000).flatMap(i => Seq(s"k$i", s"k$i")).toDF("x")
    val est = big.agg(kmvDistinct(col("x"), 64)).collect()(0).getLong(0)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.4, s"estimate $est")
    // mergeability: partial buffers must union to the same sketch
    for (p <- Seq(1, 7)) {
      val e = big.repartition(p).agg(kmvDistinct(col("x"), 64))
        .collect()(0).getLong(0)
      assert(e == est, s"partitions=$p gave $e, expected $est")
    }
    // SQL surface
    graft.GraftSql.registerFunctions(spark)
    big.createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql(
      """SELECT kmv_distinct(CAST(conv(substr(md5(CAST(x AS STRING)), 1, 12), 16, 10)
        |  AS BIGINT), 64) AS e FROM kmv_in""".stripMargin).collect()(0).getLong(0)
    assert(viaSql == est)
  }

  test("kmv set algebra: exact below k, union==union-sketch, estimator accuracy") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.KmvDistinct._
    // BELOW k everything is exact: A = 1..30, B = 21..50 → |A∪B| = 50,
    // |A∩B| = 10, J = 0.2
    val a = (1 to 30).map(i => ("a", s"v$i")) ++ (21 to 50).map(i => ("b", s"v$i"))
    val st = a.toDF("s", "x").groupBy("s").agg(kmvMinima(col("x"), 64).as("st"))
    val row = st.filter(col("s") === "a").select(col("st").as("sa"))
      .crossJoin(st.filter(col("s") === "b").select(col("st").as("sb")))
      .select(
        kmvEstimate(kmvUnion(col("sa"), col("sb"), 64), 64).as("u"),
        kmvJaccard(col("sa"), col("sb"), 64).as("j"),
        kmvIntersect(col("sa"), col("sb"), 64).as("i"))
      .collect()(0)
    assert(row.getAs[Long]("u") == 50L)
    assert(row.getAs[Double]("j") == 0.2)
    assert(row.getAs[Long]("i") == 10L)
    // the merged minima array of a PARTITIONED build equals the
    // single-pass build (sketch algebra rests on this)
    val big = (1 to 5000).map(i => s"k$i").toDF("x")
    val one = big.agg(kmvMinima(col("x"), 64)).collect()(0).getSeq[Long](0)
    val parts = big.repartition(13).agg(kmvMinima(col("x"), 64))
      .collect()(0).getSeq[Long](0)
    assert(one == parts)
    // SQL registration yields the identical array
    graft.GraftSql.registerFunctions(spark)
    big.createOrReplaceTempView("kmvm_in")
    val viaSql = spark.sql(
      """SELECT kmv_minima(CAST(conv(substr(md5(CAST(x AS STRING)), 1, 12), 16, 10)
        |  AS BIGINT), 64) AS st FROM kmvm_in""".stripMargin)
      .collect()(0).getSeq[Long](0)
    assert(viaSql == one)
    // above capacity: overlap estimate lands near truth (A = 1..4000,
    // B = 2001..6000 → J = 1/3, |A∪B| = 6000)
    val ab = ((1 to 4000).map(i => ("a", s"u$i")) ++
      (2001 to 6000).map(i => ("b", s"u$i"))).toDF("s", "x")
    val st2 = ab.groupBy("s").agg(kmvMinima(col("x"), 256).as("st"))
    val r2 = st2.filter(col("s") === "a").select(col("st").as("sa"))
      .crossJoin(st2.filter(col("s") === "b").select(col("st").as("sb")))
      .select(kmvEstimate(kmvUnion(col("sa"), col("sb"), 256), 256).as("u"),
        kmvJaccard(col("sa"), col("sb"), 256).as("j"))
      .collect()(0)
    assert(math.abs(r2.getAs[Long]("u") - 6000.0) / 6000.0 < 0.25,
      s"union ${r2.getAs[Long]("u")}")
    assert(math.abs(r2.getAs[Double]("j") - 1.0 / 3.0) < 0.15,
      s"jaccard ${r2.getAs[Double]("j")}")
  }

  test("hist_fixed: SQL-callable, arity/literal errors readable") {
    import spark.implicits._
    graft.GraftSql.registerFunctions(spark)
    Seq(1.0, 5.0, 15.0, 95.0).toDF("v").createOrReplaceTempView("hist_in")
    val arr = spark.sql("SELECT hist_fixed(v, 0.0, 10.0, 4) AS h FROM hist_in")
      .collect()(0).getSeq[Long](0)
    assert(arr == Seq(0L, 2L, 1L, 0L, 0L, 1L))   // under|4 buckets|over
    val err = intercept[Exception] {
      spark.sql("SELECT hist_fixed(v, 0.0, 10.0, v) FROM hist_in").collect()
    }
    assert(err.getMessage.contains("nBuckets"))
  }
}
