package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated parquet corpus (TESTDATA.md).
  *
  * One parquet directory per scale factor; tables are TPC-H-ish plus an
  * `events` stream table and `documents`/`embeddings` for the
  * training-data extension operators.
  *
  * Design note (100 TB posture): this reads parquet directly with
  * `spark.read.parquet` — no driver-side materialization (the reference
  * downloads one JSON blob per event onto the driver,
  * top10.py:149-153; that pattern is deliberately NOT reproduced).
  */
object Corpus {

  /** Every table's file schema, as the generator writes it at every
    * scale factor. Declared, so a load plans without the footer-reading
    * Spark job schema inference costs; SourcesSpec pins each one equal to
    * the inferred schema at every scale factor, so a drifted file fails
    * there instead of reading a column as null.
    */
  val schemas: Seq[(String, StructType)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  val tableNames: Seq[String] = schemas.map(_._1)

  private val schemaOf: Map[String, StructType] = schemas.toMap

  /** Tables that are genuinely bounded (constant cardinality regardless
    * of scale factor) and therefore always safe to broadcast. `part`,
    * `customer`, `supplier` grow linearly with scale — broadcasting them
    * is an executor OOM at the 100-TB posture, so they are deliberately
    * NOT here; AQE picks broadcast-vs-shuffled-hash for them by measured
    * size at runtime.
    */
  val broadcastableDims: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalize(spark.read.schema(schemaOf(name)).parquet(s"$dir/$name.parquet"))

  /** Register every table as a temp view (for the spark.sql surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Cast every TIMESTAMP_NTZ column (ts, l_shipdate, o_orderdate) to
    * plain TimestampType. The generator writes timestamp[us] without
    * isAdjustedToUTC; functions like unix_micros() accept only
    * TimestampType, and under the fixed UTC session the cast
    * reinterprets the same wall-clock instant, so every downstream value
    * (epoch math, date keys, month strings) keeps the certified results.
    */
  private def normalize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (d, StructField(name, TimestampNTZType, _, _)) =>
        d.withColumn(name, col(name).cast(TimestampType))
      case (d, _) => d
    }
}
