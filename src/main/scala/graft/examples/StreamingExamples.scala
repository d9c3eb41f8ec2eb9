package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.config.SparkConfig
import graft.runtime.SessionWrapper
import graft.streaming._

/** Runnable streaming demo pipelines (parity with the reference's
  * examples.streaming module, which ships two example pipelines).
  *
  *   sbt "runMain graft.examples.StreamingExamples rate"
  *     — rate source → transform → console, 3 micro-batches
  *   sbt "runMain graft.examples.StreamingExamples file <inDir> <outDir>"
  *     — parquet file stream → windowed aggregation → parquet sink,
  *       availableNow (drains what exists, then stops)
  */
object StreamingExamples {

  def rateDemo(spark: SparkSession): Unit = {
    val q = new StreamingPipeline(
      source = RateStreamingSource(rowsPerSecond = 100, numPartitions = 2),
      sink = ConsoleStreamingSink(truncate = false),
      transform = df => df
        .withColumn("value_x2", col("value") * 2)
        .withColumn("bucket", pmod(col("value"), lit(10))),
      outputMode = OutputMode.Append,
      trigger = TriggerConfig.ProcessingTime("1 second"),
      hooks = new LoggingStreamingHooks)
      .startStream(spark)
    Thread.sleep(3500)
    q.stop()
  }

  def fileDemo(spark: SparkSession, inDir: String, outDir: String): Unit =
    new StreamingPipeline(
      source = FileStreamingSource(inDir,
        schemaDdl = Some("ts TIMESTAMP, user_id LONG, value DOUBLE"),
        watermarkColumn = Some("ts"), watermarkDelay = Some("10 minutes")),
      sink = FileStreamingSink(outDir),
      transform = df => df
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .select(col("window.start").as("hour"), col("user_id"), col("n"), col("total")),
      outputMode = OutputMode.Append,
      trigger = TriggerConfig.AvailableNow,
      checkpointLocation = Some(outDir + "-checkpoint"),
      hooks = new LoggingStreamingHooks)
      .run(spark) // blocking: availableNow terminates after the backlog

  def main(args: Array[String]): Unit = {
    val spark = new SessionWrapper(
      SparkConfig.local(4).copy(appName = "graft-streaming-examples")).session
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "rate" :: _ => rateDemo(spark)
      case "file" :: in :: out :: _ => fileDemo(spark, in, out)
      case _ =>
        System.err.println("usage: StreamingExamples rate | file <inDir> <outDir>")
        sys.exit(1)
    }
    spark.stop()
  }
}
