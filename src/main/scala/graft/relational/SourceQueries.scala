package graft.relational

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Source/sink coverage beyond parquet (SURVEY §2.1): the reference's S1
  * CSV scan with header + schema inference, a JSON column parse (the
  * `events.props` strings), and the text line format. Round-trips go
  * through Spark writes to temp dirs so the same code path works on any
  * Hadoop FS; oracles compute from the original parquet, proving the
  * format round-trip is lossless.
  */
object SourceQueries {

  /** CSV sink → CSV scan with header=true + inferSchema=true (the exact
    * reference read shape, Sample:98-102) → aggregate. The oracle reads
    * the original table: hash-equality proves the CSV round-trip loses
    * nothing (types re-inferred, values exact). */
  val csvRoundtrip: QueryDef = QueryDef.sql(
    "src_csv_roundtrip",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
    val dir = Staging.dir("src-csv", d)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    s.read.option("header", "true").option("inferSchema", "true").csv(dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  /** ORC sink → ORC scan → aggregate: the second columnar format with
    * predicate pushdown + column pruning (spark-avro is not bundled in
    * this distribution, so ORC is the non-parquet columnar
    * representative). The pushed filter reaches the ORC reader the same
    * way it does parquet; the oracle reads the original table, proving
    * the round-trip is lossless. */
  val orcRoundtrip: QueryDef = QueryDef.sql(
    "src_orc_roundtrip",
    """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
      |FROM customer
      |WHERE c_nationkey < 10
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val dir = Staging.dir("src-orc", d)
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("c_acctbal"))
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("c_nationkey") < 10) // pushed to the ORC scan
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Semi-structured column: from_json over events.props → typed field →
    * aggregate (JSON parsing is a first-class source capability for
    * training-data pipelines). */
  val jsonProps: QueryDef = QueryDef.sql(
    "src_json_props",
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max,
      |  count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val schema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"), schema).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_sum"), max(col("k")).as("k_max"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** Text format: document texts written as raw lines, read back with
    * spark.read.text, line-level stats. Oracle over the original table
    * proves the line round-trip. */
  val textLines: QueryDef = QueryDef.sql(
    "src_text_lines",
    """SELECT length(text) AS line_len, count(*) AS n
      |FROM documents
      |GROUP BY line_len
      |ORDER BY line_len""".stripMargin) { (s, d) =>
    val dir = Staging.dir("src-text", d)
    Tables.documents(s, d).select(col("text")).write.mode("overwrite").text(dir)
    s.read.text(dir)
      .groupBy(length(col("value")).as("line_len"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("line_len"))
  }

  /** Partitioned parquet layout + partition pruning: orders written
    * partitioned by o_orderstatus, then read back with a partition-column
    * filter. At 100 TB this is the difference between scanning one
    * directory and scanning all of them — the pruning itself is asserted
    * on the physical plan in `PartitionPruningSuite`; here the pruned
    * read's results are oracle-checked. */
  val partitionedRoundtrip: QueryDef = QueryDef.sql(
    "src_partitioned_pruning",
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val dir = Staging.dir("src-part", d)
    Tables.orders(s, d).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(dir)
    s.read.parquet(dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** SCHEMA EVOLUTION — a corpus written over time gains columns; the
    * engine must read old and new files together. Batch 1 (even keys)
    * lacks `o_orderpriority`; batch 2 (odd keys) carries it;
    * `mergeSchema=true` unions the file footers and null-fills the
    * legacy rows — precisely DuckDB's `union_by_name`, which the oracle
    * reproduces with a CASE on the original table. At 100 TB schema
    * merge reads each footer once (no data rewrite), which is why
    * additive evolution beats table-wide migrations. */
  val schemaMerge: QueryDef = QueryDef.sql(
    "src_schema_merge",
    """WITH m AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
      |      AS o_orderpriority
      |  FROM orders)
      |SELECT coalesce(o_orderpriority, '<legacy>') AS priority,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM m
      |GROUP BY priority
      |ORDER BY priority""".stripMargin) { (s, d) =>
    val dir = Staging.dir("src-merge", d)
    val orders = Tables.orders(s, d)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/b1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/b2")
    s.read.option("mergeSchema", "true").parquet(s"$dir/b1", s"$dir/b2")
      .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>")).as("priority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("priority"))
  }

  /** LibSVM source (SURVEY §2.1 S3 — the reference SHIPS a
    * `label idx:val …` sample file, `data/sample.txt:1-6`, though no
    * code path reads it): lineitem staged as libsvm lines (label =
    * quantity, features 1:extendedprice 2:discount, Spark's
    * shortest-roundtrip double formatting so re-parse is exact), read
    * back through `spark.read.format("libsvm")` with an explicit
    * `numFeatures` (skips the extra inference pass — at 100 TB that
    * pass is a full second scan), features surfaced via
    * `vector_to_array`. All checked aggregates are exact integers
    * (quantity sums, cent-scaled money) so the hash cannot wobble on
    * FP summation order. Oracle reads the ORIGINAL table: equality
    * proves the text → sparse-vector → array round-trip lost nothing. */
  val libsvmRoundtrip: QueryDef = QueryDef.sql(
    "src_libsvm_roundtrip",
    """SELECT CAST(sum(l_quantity) AS BIGINT) AS qty_sum,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS extprice_cents,
      |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
      |    AS discount_cents,
      |  count(*) AS n
      |FROM lineitem""".stripMargin) { (s, d) =>
    val dir = Staging.dir("src-libsvm", d)
    Tables.lineitem(s, d)
      .select(concat_ws(" ",
        col("l_quantity").cast("string"),
        concat(lit("1:"), col("l_extendedprice").cast("string")),
        concat(lit("2:"), col("l_discount").cast("string"))).as("value"))
      .write.mode("overwrite").text(dir)
    s.read.format("libsvm").option("numFeatures", "2").load(dir)
      .select(col("label"),
        org.apache.spark.ml.functions.vector_to_array(col("features")).as("f"))
      .agg(
        sum(col("label")).cast("long").as("qty_sum"),
        sum(round(element_at(col("f"), 1) * 100, 0).cast("long"))
          .cast("long").as("extprice_cents"),
        sum(round(element_at(col("f"), 2) * 100, 0).cast("long"))
          .cast("long").as("discount_cents"),
        count(lit(1)).as("n"))
  }

  val all: Seq[QueryDef] =
    Seq(csvRoundtrip, orcRoundtrip, jsonProps, textLines, partitionedRoundtrip,
      schemaMerge, libsvmRoundtrip)
}
