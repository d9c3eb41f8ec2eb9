package graft.components

import graft.core.component._

/** Built-in batch components (reference: examples/batch.py — ReadCsv,
  * WriteCsv, ReadTable, SqlTransform, WriteTable) plus parquet variants.
  * Components communicate exclusively through named temp views. The
  * runner cuts a view (an eager `localCheckpoint` under the same name)
  * after the component that made it, except a scan with only
  * Project/Filter above it and a view only a sink reads: those stay
  * lazy, so a Read→Transform→Write chain is still ONE Catalyst plan at
  * the sink action, with predicate pushdown and column pruning across
  * component boundaries (see [[graft.runner.SimplePipelineRunner]]).
  *
  * Each companion object is the ComponentFactory the loader resolves via
  * `class_path`.
  */

/** CSV scan → temp view (examples/batch.py:55-102). */
final class ReadCsv(path: String, outputView: String, header: Boolean, inferSchema: Boolean)
  extends DataFlow {
  val name = s"read_csv($outputView)"
  def run(): Unit =
    spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .csv(path)
      .createOrReplaceTempView(outputView)
}
object ReadCsv extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new ReadCsv(Cfg.str(c, "path"), Cfg.str(c, "output_view"),
      Cfg.boolOr(c, "header", true), Cfg.boolOr(c, "infer_schema", true))
}

/** Temp view → CSV sink (examples/batch.py:122-168). */
final class WriteCsv(inputView: String, path: String, mode: String, header: Boolean)
  extends DataFlow {
  val name = s"write_csv($inputView)"
  def run(): Unit =
    spark.table(inputView).write.mode(mode)
      .option("header", header.toString).csv(path)
}
object WriteCsv extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new WriteCsv(Cfg.str(c, "input_view"), Cfg.str(c, "path"),
      Cfg.strOr(c, "mode", "overwrite"), Cfg.boolOr(c, "header", true))
}

/** Catalog/temp-view scan + optional filter → temp view
  * (examples/batch.py:186-235). The filter string composes onto the
  * scan before any action, so Catalyst pushes it into the file source.
  */
final class ReadTable(tableName: String, outputView: String, filterCondition: Option[String])
  extends DataFlow {
  val name = s"read_table($tableName)"
  def run(): Unit = {
    val df = spark.table(tableName)
    filterCondition.fold(df)(df.filter).createOrReplaceTempView(outputView)
  }
}
object ReadTable extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new ReadTable(Cfg.str(c, "table_name"), Cfg.str(c, "output_view"),
      Cfg.strOpt(c, "filter_condition"))
}

/** Arbitrary SQL → temp view (examples/batch.py:251-293) — the single
  * component that carries the whole relational algebra (SURVEY.md §2.B).
  */
final class SqlTransform(sql: String, outputView: String) extends DataFlow {
  val name = s"sql_transform($outputView)"
  def run(): Unit = spark.sql(sql).createOrReplaceTempView(outputView)
}
object SqlTransform extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new SqlTransform(Cfg.str(c, "sql"), Cfg.str(c, "output_view"))
}

/** Temp view → catalog table with optional partitioning
  * (examples/batch.py:313-364).
  */
final class WriteTable(inputView: String, outputTable: String, mode: String, partitionBy: Seq[String])
  extends DataFlow {
  val name = s"write_table($outputTable)"
  def run(): Unit = {
    val w = spark.table(inputView).write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .saveAsTable(outputTable)
  }
}
object WriteTable extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new WriteTable(Cfg.str(c, "input_view"), Cfg.str(c, "output_table"),
      Cfg.strOr(c, "mode", "overwrite"), Cfg.seqOr(c, "partition_by", Nil))
}

/** Parquet scan → temp view (beyond-reference convenience; parquet is
  * the engine's primary columnar source).
  */
final class ReadParquet(path: String, outputView: String) extends DataFlow {
  val name = s"read_parquet($outputView)"
  def run(): Unit =
    spark.read.parquet(path).createOrReplaceTempView(outputView)
}
object ReadParquet extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new ReadParquet(Cfg.str(c, "path"), Cfg.str(c, "output_view"))
}

/** Temp view → parquet files, optional partitioning. */
final class WriteParquet(inputView: String, path: String, mode: String, partitionBy: Seq[String])
  extends DataFlow {
  val name = s"write_parquet($inputView)"
  def run(): Unit = {
    val w = spark.table(inputView).write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}
object WriteParquet extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new WriteParquet(Cfg.str(c, "input_view"), Cfg.str(c, "path"),
      Cfg.strOr(c, "mode", "overwrite"), Cfg.seqOr(c, "partition_by", Nil))
}

/** Generic format scan → temp view: one component for every
  * DataSource V2 format on the classpath (json, orc, csv, text, …;
  * avro/delta/iceberg when their connectors ship). `options` passes
  * straight to the reader; an optional DDL schema skips inference —
  * at scale, schema inference is an extra full scan for JSON/CSV, so
  * production configs should always pin one.
  */
final class ReadFormat(format: String, path: String, outputView: String,
    options: Map[String, String], schemaDdl: Option[String]) extends DataFlow {
  val name = s"read_$format($outputView)"
  def run(): Unit = {
    var r = spark.read.format(format).options(options)
    schemaDdl.foreach(ddl => r = r.schema(ddl))
    r.load(path).createOrReplaceTempView(outputView)
  }
}
object ReadFormat extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new ReadFormat(Cfg.str(c, "format"), Cfg.str(c, "path"),
      Cfg.str(c, "output_view"), Cfg.mapOr(c, "options"),
      Cfg.strOpt(c, "schema"))
}

/** Temp view → any classpath format, optional partitioning. */
final class WriteFormat(inputView: String, format: String, path: String,
    mode: String, partitionBy: Seq[String], options: Map[String, String]) extends DataFlow {
  val name = s"write_$format($inputView)"
  def run(): Unit = {
    var w = spark.table(inputView).write.format(format).mode(mode).options(options)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.save(path)
  }
}
object WriteFormat extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new WriteFormat(Cfg.str(c, "input_view"), Cfg.str(c, "format"),
      Cfg.str(c, "path"), Cfg.strOr(c, "mode", "overwrite"),
      Cfg.seqOr(c, "partition_by", Nil), Cfg.mapOr(c, "options"))
}
