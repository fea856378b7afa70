package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Coercions, Gsid}
import graft.operators.{ConflictDetector, ConflictResolver}

/** Remaining §2 checklist coverage: the §7.3 minimum slice (point
  * lookup through two joins), duplicate-subject finder A6, alias
  * rollup J3, enrichment join J8, multi-format year normalization F9,
  * and conflict-resolution application U4/U5. */
object ExtraQueries {

  /** Supplier-derived registry CTEs shared by these oracles (same
    * derivation as IdentityQueries). */
  private val registryCtes =
    """WITH localids AS (
      |  SELECT s_name AS local_subject_id, 'primary' AS identifier_type,
      |         CAST(s_nationkey AS INT) AS center_id,
      |         'GSID-' || upper(substr(md5('S' || CAST(s_suppkey AS VARCHAR)), 1, 16)) AS global_subject_id
      |  FROM supplier
      |  UNION ALL
      |  SELECT s_name, 'primary', CAST((s_nationkey + 1) % 25 AS INT),
      |         'GSID-' || upper(substr(md5('X' || CAST(s_suppkey AS VARCHAR)), 1, 16))
      |  FROM supplier WHERE s_suppkey % 10 = 0),
      |subjects AS (
      |  SELECT 'GSID-' || upper(substr(md5('S' || CAST(s_suppkey AS VARCHAR)), 1, 16)) AS global_subject_id,
      |         CAST(s_nationkey AS INT) AS center_id,
      |         DATE '2020-01-01' + CAST(s_suppkey AS INT) AS created_at
      |  FROM supplier
      |  UNION ALL
      |  SELECT 'GSID-' || upper(substr(md5('X' || CAST(s_suppkey AS VARCHAR)), 1, 16)),
      |         CAST((s_nationkey + 1) % 25 AS INT),
      |         DATE '2019-01-01' + CAST(s_suppkey AS INT)
      |  FROM supplier WHERE s_suppkey % 10 = 0)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // CHECK-constraint quarantine: rows violating enum/range rules get
    // routed to a side output with their violation list.
    QueryDef.sql(
      "q_quarantine_split",
      """SELECT o_orderkey,
        |  coalesce(array_to_string(list_sort(list_filter([
        |    CASE WHEN NOT coalesce(o_orderstatus IN ('O', 'F'), FALSE) THEN 'valid_status' END,
        |    CASE WHEN NOT coalesce(o_totalprice > 0 AND o_totalprice < 500000, FALSE) THEN 'price_range' END],
        |    x -> x IS NOT NULL)), ','), '') AS violations
        |FROM orders
        |WHERE NOT coalesce(o_orderstatus IN ('O', 'F'), FALSE)
        |   OR NOT coalesce(o_totalprice > 0 AND o_totalprice < 500000, FALSE)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      graft.operators.Quarantine.split(
        Tables.orders(s, d),
        Seq(
          graft.operators.Quarantine.enumRule("valid_status", col("o_orderstatus"), Seq("O", "F")),
          graft.operators.Quarantine.Rule("price_range",
            col("o_totalprice") > 0 && col("o_totalprice") < 500000)))
        .quarantined
        // driver comparator can't sort ARRAY cells — ship a joined string
        .select(col("o_orderkey"), concat_ws(",", col("violations")).as("violations"))
        .orderBy("o_orderkey")
    },

    // REDCap-style wide→long melt (FIXTURES.md §5: specimen columns →
    // typed rows), Spark's native unpivot.
    QueryDef.sql(
      "q_unpivot_melt",
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
        |ORDER BY p_partkey, metric""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_size").cast("double").as("p_size"), col("p_retailprice")),
          "metric", "value")
        .orderBy("p_partkey", "metric")
    },

    // U9: dimension get-or-create — existing names resolve, new names
    // mint max(id) + dense_rank(normalized name).
    QueryDef.sql(
      "q_dim_get_or_create",
      """WITH dim AS (SELECT n_nationkey AS center_id, n_name AS name FROM nation),
        |incoming AS (
        |  SELECT c_custkey AS input_id,
        |    CASE c_custkey % 3
        |      WHEN 0 THEN n.n_name
        |      WHEN 1 THEN lower(n.n_name)
        |      ELSE 'NewCenter-' || CAST(c_custkey % 7 AS VARCHAR)
        |    END AS name
        |  FROM customer JOIN nation n ON n.n_nationkey = c_nationkey),
        |norm AS (SELECT input_id, name,
        |                lower(trim(replace(name, '_', ' '))) AS nname FROM incoming),
        |matched AS (
        |  SELECT nm.input_id, nm.name, nm.nname, d.center_id AS dim_id
        |  FROM norm nm LEFT JOIN dim d
        |    ON lower(trim(replace(d.name, '_', ' '))) = nm.nname),
        |newnames AS (
        |  SELECT nname,
        |         dense_rank() OVER (ORDER BY nname) + (SELECT max(center_id) FROM dim) AS new_id
        |  FROM (SELECT DISTINCT nname FROM matched WHERE dim_id IS NULL))
        |SELECT m.input_id, m.name,
        |       CAST(coalesce(m.dim_id, nn.new_id) AS INT) AS center_id,
        |       m.dim_id IS NULL AS is_new
        |FROM matched m LEFT JOIN newnames nn USING (nname)
        |ORDER BY m.input_id""".stripMargin) { (s, d) =>
      val dim = Tables.nation(s, d)
        .select(col("n_nationkey").cast("int").as("center_id"), col("n_name").as("name"))
      val incoming = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey").as("input_id"),
          expr("""CASE CAST(c_custkey % 3 AS INT)
                 |  WHEN 0 THEN n_name
                 |  WHEN 1 THEN lower(n_name)
                 |  ELSE concat('NewCenter-', CAST(c_custkey % 7 AS STRING))
                 |END""".stripMargin).as("name"))
      graft.operators.DimensionUpsert.getOrCreate(dim, incoming).resolved
        .select("input_id", "name", "center_id", "is_new")
        .orderBy("input_id")
    },

    // §7.3 minimum end-to-end slice: GSID from a local ID with center
    // detail (case-insensitive point predicate + two joins, P9/J1/J2).
    QueryDef.sql(
      "q_lookup_local_id",
      s"""$registryCtes
         |SELECT l.local_subject_id, l.identifier_type, l.global_subject_id,
         |       strftime(s.created_at, '%Y-%m-%d') AS created_at, n.n_name AS center_name
         |FROM localids l
         |JOIN subjects s USING (global_subject_id)
         |JOIN nation n ON n.n_nationkey = l.center_id
         |WHERE lower(l.local_subject_id) = lower('SUPPLIER#' || lpad('7', 9, '0'))
         |ORDER BY l.global_subject_id""".stripMargin) { (s, d) =>
      val reg = IdentityQueries.registry(s, d)
      reg.localIds
        .filter(lower(col("local_subject_id")) ===
          lower(concat(lit("SUPPLIER#"), lpad(lit("7"), 9, "0"))))
        .join(reg.subjects.select("global_subject_id", "created_at"), "global_subject_id")
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("center_id"))
        .select(col("local_subject_id"), col("identifier_type"), col("global_subject_id"),
          date_format(col("created_at"), "yyyy-MM-dd").as("created_at"),
          col("n_name").as("center_name"))
        .orderBy("global_subject_id")
    },

    // A6: the core data-quality query — identifiers linked to >1 GSID.
    QueryDef.sql(
      "q_dup_subject_finder",
      s"""$registryCtes
         |SELECT local_subject_id, identifier_type,
         |  CAST(COUNT(DISTINCT global_subject_id) AS INT) AS n_gsids,
         |  array_to_string(list_sort(list(DISTINCT global_subject_id)), ',') AS gsids,
         |  array_to_string(list_sort(list(DISTINCT center_id)), ',') AS centers
         |FROM localids
         |GROUP BY local_subject_id, identifier_type
         |HAVING COUNT(DISTINCT global_subject_id) > 1
         |ORDER BY local_subject_id""".stripMargin) { (s, d) =>
      // n_gsids = size of the already-collected distinct set: a
      // countDistinct alongside collect_set would force the Expand
      // two-pass distinct aggregation (an extra shuffle) for a number
      // the set carries for free.
      IdentityQueries.registry(s, d).localIds
        .groupBy("local_subject_id", "identifier_type")
        .agg(sort_array(collect_set("global_subject_id")).as("_gset"),
          concat_ws(",", transform(sort_array(collect_set("center_id")), _.cast("string")))
            .as("centers"))
        .withColumn("n_gsids", size(col("_gset")))
        .withColumn("gsids", concat_ws(",", col("_gset")))
        .filter(col("n_gsids") > 1)
        .select("local_subject_id", "identifier_type", "n_gsids", "gsids", "centers")
        .orderBy("local_subject_id")
    },

    // J3: subject ↔ aliases rollup.
    QueryDef.sql(
      "q_subject_aliases",
      s"""$registryCtes
         |SELECT s.global_subject_id, strftime(s.created_at, '%Y-%m-%d') AS created_at,
         |  COUNT(l.local_subject_id) AS n_aliases,
         |  coalesce(array_to_string(list_sort(list(DISTINCT l.local_subject_id)), ','), '') AS aliases
         |FROM subjects s
         |LEFT JOIN localids l USING (global_subject_id)
         |GROUP BY s.global_subject_id, s.created_at
         |ORDER BY s.global_subject_id""".stripMargin) { (s, d) =>
      val reg = IdentityQueries.registry(s, d)
      reg.subjects
        .select(col("global_subject_id"), date_format(col("created_at"), "yyyy-MM-dd").as("created_at"))
        .join(reg.localIds.select("global_subject_id", "local_subject_id"),
          Seq("global_subject_id"), "left")
        .groupBy("global_subject_id", "created_at")
        .agg(count(col("local_subject_id")).as("n_aliases"),
          concat_ws(",", sort_array(collect_set("local_subject_id"))).as("aliases"))
        .orderBy("global_subject_id")
    },

    // J8: LabKey-style enrichment join with conditional updates.
    QueryDef.sql(
      "q_enrich_status",
      """WITH labkey AS (
        |  SELECT l_orderkey, max(l_shipdate) AS last_ship,
        |         bool_or(l_returnflag = 'R') AS consumed
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN lk.l_orderkey IS NOT NULL AND lk.consumed THEN FALSE ELSE TRUE END AS sample_available,
        |  CAST(coalesce(year(lk.last_ship), year(o_orderdate)) AS INT) AS year_collected
        |FROM orders
        |LEFT JOIN labkey lk ON o_orderkey = lk.l_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val labkey = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(max("l_shipdate").as("last_ship"),
          bool_or(col("l_returnflag") === "R").as("consumed"))
      Tables.orders(s, d)
        .join(labkey, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("l_orderkey").isNotNull && col("consumed"), lit(false))
            .otherwise(lit(true)).as("sample_available"),
          coalesce(year(col("last_ship")), year(col("o_orderdate"))).cast("int")
            .as("year_collected"))
        .orderBy("o_orderkey")
    },

    // F9: multi-format registration-year normalization with range check.
    QueryDef.sql(
      "q_fn_year_norm",
      """WITH raws AS (
        |  SELECT o_orderkey,
        |    CASE o_orderkey % 5
        |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |      WHEN 1 THEN strftime(o_orderdate, '%Y')
        |      WHEN 2 THEN strftime(o_orderdate, '%m/%d/%Y')
        |      WHEN 3 THEN 'not-a-date'
        |      ELSE '1850'
        |    END AS raw
        |  FROM orders),
        |parsed AS (
        |  SELECT o_orderkey, raw,
        |    coalesce(try_strptime(raw, '%Y-%m-%d'), try_strptime(raw, '%Y'),
        |             try_strptime(raw, '%m/%d/%Y'), try_strptime(raw, '%d/%m/%Y'),
        |             try_strptime(raw, '%Y/%m/%d')) AS p
        |  FROM raws)
        |SELECT o_orderkey, raw,
        |  CASE WHEN year(p) BETWEEN 1900 AND 2100
        |       THEN strftime(p, '%Y-01-01') END AS registration_year
        |FROM parsed
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .withColumn("raw", expr(
          """CASE CAST(o_orderkey % 5 AS INT)
            |  WHEN 0 THEN date_format(o_orderdate, 'yyyy-MM-dd')
            |  WHEN 1 THEN date_format(o_orderdate, 'yyyy')
            |  WHEN 2 THEN date_format(o_orderdate, 'MM/dd/yyyy')
            |  WHEN 3 THEN 'not-a-date'
            |  ELSE '1850'
            |END""".stripMargin))
        .select(col("o_orderkey"), col("raw"),
          date_format(Coercions.normalizeRegistrationYear(col("raw")), "yyyy-MM-dd")
            .as("registration_year"))
        .orderBy("o_orderkey")
    },

    // U4: conflict-resolution application — surviving incoming rows
    // after keep_existing/delete_both exclusions.
    QueryDef.sql(
      "q_conflict_apply",
      """WITH incoming AS (
        |  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS local_subject_id,
        |    'part' AS identifier_type,
        |    CAST(l_suppkey % 5 AS INT) AS center_id,
        |    'GSID-' || upper(substr(md5(CAST(l_partkey AS VARCHAR)), 1, 16)) AS global_subject_id
        |  FROM lineitem WHERE l_linenumber = 1),
        |existing AS (
        |  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS local_subject_id,
        |    'part' AS identifier_type,
        |    CAST(l_partkey % 5 AS INT) AS center_id,
        |    'GSID-' || upper(substr(md5(CAST(l_partkey + (l_partkey % 3) AS VARCHAR)), 1, 16)) AS global_subject_id
        |  FROM lineitem WHERE l_linenumber = 2),
        |conflicts AS (
        |  SELECT i.local_subject_id, i.identifier_type,
        |    e.center_id AS existing_center_id, i.center_id AS incoming_center_id,
        |    CASE (e.center_id * 7 + i.center_id) % 3
        |      WHEN 0 THEN 'keep_existing' WHEN 1 THEN 'use_incoming'
        |      ELSE 'delete_both' END AS resolution_action
        |  FROM incoming i
        |  JOIN existing e USING (local_subject_id, identifier_type)
        |  WHERE e.center_id <> i.center_id OR e.global_subject_id <> i.global_subject_id),
        |excl AS (
        |  SELECT DISTINCT local_subject_id, identifier_type FROM conflicts
        |  WHERE resolution_action IN ('keep_existing', 'delete_both', 'pending', 'merge'))
        |SELECT i.local_subject_id, i.identifier_type, i.center_id, i.global_subject_id
        |FROM incoming i
        |WHERE NOT EXISTS (SELECT 1 FROM excl e
        |                  WHERE e.local_subject_id = i.local_subject_id
        |                    AND e.identifier_type = i.identifier_type)
        |ORDER BY i.local_subject_id, i.center_id""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val incoming = li.filter(col("l_linenumber") === 1).select(
        col("l_partkey").cast("string").as("local_subject_id"),
        lit("part").as("identifier_type"),
        (col("l_suppkey") % 5).cast("int").as("center_id"),
        Gsid.deterministic(col("l_partkey").cast("string")).as("global_subject_id"))
        .dropDuplicates()
      val existing = li.filter(col("l_linenumber") === 2).select(
        col("l_partkey").cast("string").as("local_subject_id"),
        lit("part").as("identifier_type"),
        (col("l_partkey") % 5).cast("int").as("center_id"),
        Gsid.deterministic((col("l_partkey") + (col("l_partkey") % 3)).cast("string"))
          .as("global_subject_id"))
        .dropDuplicates()
      val resolutions = ConflictDetector.detect(incoming, existing, "b")
        .withColumn("resolution_action",
          expr("""CASE CAST((existing_center_id * 7 + incoming_center_id) % 3 AS INT)
                 |  WHEN 0 THEN 'keep_existing' WHEN 1 THEN 'use_incoming'
                 |  ELSE 'delete_both' END""".stripMargin))
      ConflictResolver.applyToIncoming(incoming, resolutions)
        .orderBy("local_subject_id", "center_id")
    },

    // U5: cascading center updates driven by use_incoming resolutions.
    QueryDef.sql(
      "q_center_cascade",
      s"""$registryCtes,
         |res AS (
         |  SELECT 'GSID-' || upper(substr(md5('S' || CAST(s_suppkey AS VARCHAR)), 1, 16)) AS global_subject_id,
         |         CAST(s_nationkey AS INT) AS oldc, CAST((s_nationkey + 3) % 25 AS INT) AS newc
         |  FROM supplier WHERE s_suppkey % 4 = 2)
         |SELECT s.global_subject_id,
         |  CASE WHEN r.global_subject_id IS NOT NULL AND s.center_id = r.oldc
         |       THEN r.newc ELSE s.center_id END AS center_id,
         |  strftime(s.created_at, '%Y-%m-%d') AS created_at,
         |  coalesce(r.global_subject_id IS NOT NULL AND s.center_id = r.oldc, FALSE) AS center_updated
         |FROM subjects s
         |LEFT JOIN res r USING (global_subject_id)
         |ORDER BY s.global_subject_id""".stripMargin) { (s, d) =>
      val reg = IdentityQueries.registry(s, d)
      val resolutions = Tables.supplier(s, d).filter(col("s_suppkey") % 4 === 2).select(
        lit("center_mismatch").as("conflict_type"),
        lit("use_incoming").as("resolution_action"),
        Gsid.deterministic(concat(lit("S"), col("s_suppkey").cast("string"))).as("existing_gsid"),
        col("s_nationkey").cast("int").as("existing_center_id"),
        ((col("s_nationkey") + 3) % 25).cast("int").as("incoming_center_id"))
      ConflictResolver.cascadeCenterUpdates(reg.subjects, resolutions)
        .withColumn("created_at", date_format(col("created_at"), "yyyy-MM-dd"))
        .orderBy("global_subject_id")
    },

    // Z-order (Morton) curve value over (customer, order-day) — the
    // multi-dimensional clustering key of a scan-pruning layout. Pure
    // bit arithmetic, replayed term-for-term in the oracle.
    QueryDef.sql(
      "q_layout_zorder",
      s"""SELECT o_orderkey,
         |  ${graft.operators.Layout.zValueSql(
               "o_custkey", "datediff('day', DATE '1992-01-01', o_orderdate)", 16)}
         |    AS zval
         |FROM orders
         |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        graft.operators.Layout.zValue(col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")), 16).as("zval"))
        .orderBy("o_orderkey")
    })
}
