package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). All queries take the scale-factor
  * directory as a parameter so the same code runs at any SF — on a real
  * cluster the path would be an object-store prefix and the parquet
  * scans below would be split across executors by Spark's FileSourceScan.
  */
object Tables {
  /** Parquet scan. Column pruning + predicate pushdown reach the reader
    * because every downstream query is expressed declaratively.
    *
    * `events.ts` has shipped with two physical encodings across testdata
    * generations, both normalized here to a session-zoned TimestampType
    * so every downstream query sees one type:
    *  - INT64 TIMESTAMP(NANOS): Spark 4 only reads it as a long
    *    (spark.sql.legacy.parquet.nanosAsLong=true — set by
    *    [[graft.core.config.SparkConfig.local]]); floor-divide to
    *    micros and rebuild.
    *  - TIMESTAMP(MICROS) without timezone: Spark reads TIMESTAMP_NTZ,
    *    which unix_micros()/window() reject; cast to TimestampType —
    *    under the UTC session timezone the instant is unchanged, which
    *    is also exactly how the DuckDB oracle reads the same file.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("CAST(ts DIV 1000 AS LONG)")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
