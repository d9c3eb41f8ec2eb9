package graft

import org.apache.spark.sql.SparkSession
import graft.core.config.SparkConfig
import graft.runtime.SessionWrapper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local-Spark fixture (mirrors the reference's module-scoped
  * integration session: tests/integration/conftest.py:11-29 — small
  * parallelism, UI off, deterministic timezone).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** One session for the whole test JVM — Spark startup dominates suite
    * time otherwise.
    */
  lazy val session: SparkSession = {
    val s = new SessionWrapper(
      SparkConfig.local(4).copy(appName = "graft-tests")).session
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
