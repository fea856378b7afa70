package graft

/** Schema contract between the testdata layout and the engine.
  *
  * The driver regenerates `/root/testdata` between rounds and its
  * physical layout has drifted before (round 8: `events.ts` went from
  * INT64 TIMESTAMP(NANOS) to native µs TIMESTAMP_NTZ, silently
  * breaking every events consumer). This spec pins the ENGINE-FACING
  * schema — what the [[Tables]] loaders return, after any layout
  * normalization — so the next drift fails ONE test that names the
  * table and column, instead of 22 opaque oracle gates.
  *
  * The contract deliberately allows the physical layouts the loaders
  * adapt to (events.ts: nanos-long OR native timestamp both normalize
  * to TIMESTAMP); everything else asserts exact name:type pairs.
  */
class SchemaContractSpec extends SparkSpec {

  private def facing(table: String): String = {
    val df = table match {
      case "events" => Tables.events(spark, sf0001)
      case t        => Tables.load(spark, sf0001, t)
    }
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
  }

  private val contract = Map(
    "region"   -> "r_regionkey:int, r_name:string",
    "nation"   -> "n_nationkey:int, n_name:string, n_regionkey:int",
    "customer" -> ("c_custkey:bigint, c_name:string, c_nationkey:int, " +
      "c_acctbal:double, c_mktsegment:string"),
    "supplier" -> "s_suppkey:bigint, s_name:string, s_nationkey:int, s_acctbal:double",
    "part"     -> ("p_partkey:bigint, p_name:string, p_brand:string, p_type:string, " +
      "p_size:int, p_retailprice:double"),
    "orders"   -> ("o_orderkey:bigint, o_custkey:bigint, o_orderstatus:string, " +
      "o_totalprice:double, o_orderdate:timestamp_ntz, o_orderpriority:string"),
    "lineitem" -> ("l_orderkey:bigint, l_partkey:bigint, l_suppkey:bigint, " +
      "l_linenumber:int, l_quantity:double, l_extendedprice:double, " +
      "l_discount:double, l_tax:double, l_returnflag:string, l_linestatus:string, " +
      "l_shipdate:timestamp_ntz"),
    // the loader's normalization target, NOT the physical layout:
    // both the nanos-long and native-timestamp layouts must land here
    "events"   -> ("event_id:bigint, ts:timestamp, user_id:bigint, " +
      "event_type:string, value:double, props:string"),
    "documents"  -> "doc_id:bigint, text:string, lang:string, source:string, n_chars:bigint",
    "embeddings" -> "vec_id:bigint, embedding:array<float>, label:int")

  for (t <- Tables.names)
    test(s"engine-facing schema of '$t' matches the contract") {
      assert(contract(t) == facing(t),
        s"\nTESTDATA DRIFT on table '$t':\n  expected ${contract(t)}\n  loaded   ${facing(t)}\n" +
          "If the driver regenerated the layout, teach the Tables loader to " +
          "normalize the new physical type (as Tables.events does) rather " +
          "than widening this contract.")
    }

  test("eventsSince matches a post-hoc filter on the normalized ts") {
    val since = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val scan = Tables.eventsSince(spark, sf0001, since)
    // a long ts_ns axis next to the normalized ts, in every layout
    assert(scan.schema("ts_ns").dataType.simpleString == "bigint")
    assert(scan.schema("ts").dataType.simpleString == "timestamp")
    val viaScan = scan.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaFilter = Tables.events(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("ts") > since)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaScan == viaFilter && viaScan.nonEmpty)
  }
}
