package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.CatalogScanner
import graft.engine.DemoApp
import graft.model.Relation

/** Driver-facing queries covering the reference-parity surface (SURVEY §2a):
  * catalog scans, banned-column anti-filter, include/exclude relation
  * filtering, keyword/prefix aliasing, trifecta SAFE/PII projection with
  * redaction + soft-delete, duplicate detection.
  *
  * Every query orders its output deterministically and aliases columns to
  * match its DuckDB oracle exactly.
  */
object ReferenceQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: ListMap[String, Q] = ListMap(
    // Trifecta SAFE view: redaction projection (ops 24, 26)
    "trifecta_safe_customer" -> ((spark, dir) => {
      DemoApp.build(spark, dir)
      spark.table("LMS_customer").orderBy("c_custkey")
    }),
    // Trifecta PII view: identity projection (op 25)
    "trifecta_pii_customer" -> ((spark, dir) => {
      DemoApp.build(spark, dir)
      spark.table("LMS_PII_customer").orderBy("c_custkey")
    }),
    // Soft-delete predicate synthesis + guard (op 11)
    "trifecta_safe_orders" -> ((spark, dir) => {
      DemoApp.build(spark, dir)
      spark.table("LMS_orders").orderBy("o_orderkey")
    }),
    // Redaction of a JSON/props column (op 24 on the events stream table)
    "trifecta_safe_events" -> ((spark, dir) => {
      DemoApp.build(spark, dir)
      spark.table("LMS_events").orderBy("event_id")
    }),
    // Catalog scan (ops 1-3, 6): full information-schema equivalent.
    // The result is metadata-sized AT ANY corpus scale (one row per
    // column), so the deterministic order comes from a single-partition
    // sort — same rows, same order as the previous global orderBy, minus
    // its range-partitioning Exchange and the sampling job that plans it.
    "catalog_scan" -> ((spark, dir) => {
      val rows = CatalogScanner.run(spark, "TPCH", dir, Nil)
      CatalogScanner.catalogDF(spark, rows)
        .coalesce(1).sortWithinPartitions("table_name", "column_index")
    }),
    // Banned-column anti-filter (op 5): metadata-level projection pushdown
    "catalog_banned_columns" -> ((spark, dir) => {
      val banned = Seq("c_name", "s_name", "props")
      val rows = CatalogScanner.run(spark, "TPCH", dir, banned)
      CatalogScanner.catalogDF(spark, rows)
        .coalesce(1).sortWithinPartitions("table_name", "column_index")
    }),
    // Include/exclude relation filter (op 10) + alias derivation (op 12)
    "relation_filter_exclude" -> ((spark, dir) => {
      val rows = CatalogScanner.run(spark, "TPCH", dir, Nil)
      val excluded = Set("documents", "embeddings", "events")
      val relations = CatalogScanner.getRelations(rows).keys.toSeq
        .filterNot(excluded.contains)
        .map { t =>
          val r = Relation(t, Nil, "LMS", "", graft.config.ReservedKeywords.all,
            Nil, Map.empty, None, prefix = None)
          (r.sourceRelationName, r.relation, r.newSafeRelationName, r.newPiiRelationName)
        }
      import spark.implicits._
      // relation lists are metadata-sized at any scale: single-partition
      // sort, no range Exchange (see catalog_scan)
      relations.toDF("source_name", "alias", "safe_name", "pii_name")
        .coalesce(1).sortWithinPartitions("source_name")
    }),
    // Prefix aliasing (ops 12, 14): PREFIX=STG applied to every table name
    "keyword_prefix_alias" -> ((spark, dir) => {
      val rows = CatalogScanner.run(spark, "TPCH", dir, Nil)
      val relations = CatalogScanner.getRelations(rows).keys.toSeq.map { t =>
        val r = Relation(t, Nil, "LMS", "", graft.config.ReservedKeywords.all,
          Nil, Map.empty, None, prefix = Some("STG"))
        (r.sourceRelationName, r.relation, r.newSafeRelationName)
      }
      import spark.implicits._
      relations.toDF("source_name", "alias", "safe_name")
        .coalesce(1).sortWithinPartitions("source_name")
    }),
    // Duplicate detection (op 23) as a distributed group-count over the
    // downstream union of SAFE+PII registrations from two raw schemas
    "dupe_detection" -> ((spark, dir) => {
      val rows = CatalogScanner.run(spark, "TPCH", dir, Nil)
      val tables = CatalogScanner.getRelations(rows).keys.toSeq
      // two raw schemas exposing the same tables -> every downstream entry
      // duplicated, as in app.py:103-123's qualified-name scan
      val entries = (tables ++ tables).flatMap(t => Seq(s"LMS.$t", s"LMS_PII.$t"))
      import spark.implicits._
      entries.toDF("qualified_name")
        .groupBy("qualified_name").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        // the distributed group-count above is the operator; its result
        // is registration-list-sized, so order it single-partition
        .select("qualified_name").coalesce(1).sortWithinPartitions("qualified_name")
    }))

  private val catalogValues =
    "('customer','c_custkey',1),('customer','c_name',2),('customer','c_nationkey',3),('customer','c_acctbal',4),('customer','c_mktsegment',5)," +
    "('documents','doc_id',1),('documents','text',2),('documents','lang',3),('documents','source',4),('documents','n_chars',5)," +
    "('embeddings','vec_id',1),('embeddings','embedding',2),('embeddings','label',3)," +
    "('events','event_id',1),('events','ts',2),('events','user_id',3),('events','event_type',4),('events','value',5),('events','props',6)," +
    "('lineitem','l_orderkey',1),('lineitem','l_partkey',2),('lineitem','l_suppkey',3),('lineitem','l_linenumber',4),('lineitem','l_quantity',5),('lineitem','l_extendedprice',6),('lineitem','l_discount',7),('lineitem','l_tax',8),('lineitem','l_returnflag',9),('lineitem','l_linestatus',10),('lineitem','l_shipdate',11)," +
    "('nation','n_nationkey',1),('nation','n_name',2),('nation','n_regionkey',3)," +
    "('orders','o_orderkey',1),('orders','o_custkey',2),('orders','o_orderstatus',3),('orders','o_totalprice',4),('orders','o_orderdate',5),('orders','o_orderpriority',6)," +
    "('part','p_partkey',1),('part','p_name',2),('part','p_brand',3),('part','p_type',4),('part','p_size',5),('part','p_retailprice',6)," +
    "('region','r_regionkey',1),('region','r_name',2)," +
    "('supplier','s_suppkey',1),('supplier','s_name',2),('supplier','s_nationkey',3),('supplier','s_acctbal',4)"

  val oracleSql: ListMap[String, String] = ListMap(
    "trifecta_safe_customer" ->
      ("SELECT c_custkey, '<redacted>' AS c_name, c_nationkey, c_acctbal, c_mktsegment " +
        "FROM customer ORDER BY c_custkey"),
    "trifecta_pii_customer" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey",
    "trifecta_safe_orders" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderstatus <> 'F' ORDER BY o_orderkey"),
    "trifecta_safe_events" ->
      ("SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, '{}' AS props " +
        "FROM events ORDER BY event_id"),
    "catalog_scan" ->
      (s"SELECT * FROM (VALUES $catalogValues) AS t(table_name, column_name, column_index) " +
        "ORDER BY table_name, column_index"),
    "catalog_banned_columns" ->
      (s"SELECT * FROM (VALUES $catalogValues) AS t(table_name, column_name, column_index) " +
        "WHERE column_name NOT IN ('c_name','s_name','props') " +
        "ORDER BY table_name, column_index"),
    "relation_filter_exclude" ->
      ("SELECT t AS source_name, t AS alias, 'LMS_' || t AS safe_name, 'LMS_PII_' || t AS pii_name " +
        "FROM (VALUES ('customer'),('lineitem'),('nation'),('orders'),('part'),('region'),('supplier')) AS v(t) " +
        "ORDER BY source_name"),
    "keyword_prefix_alias" ->
      ("SELECT t AS source_name, 'STG_' || t AS alias, 'LMS_STG_' || t AS safe_name " +
        "FROM (VALUES ('customer'),('documents'),('embeddings'),('events'),('lineitem'),('nation'),('orders'),('part'),('region'),('supplier')) AS v(t) " +
        "ORDER BY source_name"),
    "dupe_detection" ->
      ("SELECT p || t AS qualified_name " +
        "FROM (VALUES ('LMS.'),('LMS_PII.')) AS pp(p), " +
        "(VALUES ('customer'),('documents'),('embeddings'),('events'),('lineitem'),('nation'),('orders'),('part'),('region'),('supplier')) AS v(t) " +
        "ORDER BY qualified_name"))
}
