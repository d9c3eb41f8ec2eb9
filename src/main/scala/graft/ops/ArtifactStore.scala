package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.streaming.StateFs

/** The build-once store behind every frozen artifact (the IVF-PQ
  * indexes, the k-NN graph, the BPE merge table, the semantic
  * quantizer): a key maps to a path, the first caller builds and
  * publishes, every later caller reuses. A deployment rebuilds on
  * corpus refresh cadence, never per query.
  *
  * All file operations resolve through [[StateFs]], the Hadoop
  * FileSystem of the path's own scheme, so a published artifact is
  * found on any filesystem its writer could write to.
  */
object ArtifactStore {

  /** The store's own completion marker, written into a finished build
    * before it is published. It never relies on the committer's
    * `_SUCCESS`: with mapreduce.fileoutputcommitter.marksuccessfuljobs
    * = false (the usual object-store-committer setting) no `_SUCCESS`
    * is ever written, and a `_SUCCESS`-keyed cache never hits.
    * Underscore-prefixed, so Spark's file listing skips it when the
    * artifact root is itself a parquet table.
    */
  val Marker = "_GRAFT_BUILT"

  /** `<java.io.tmpdir>/graft_<kind>_<tag><params>`, tag = the first 16
    * hex digits of md5(dir|fingerprint): one artifact per (kind,
    * params, corpus dir, corpus content). A rewrite of the corpus shifts
    * the fingerprint and forces a rebuild.
    */
  def pathOf(kind: String, params: String, dir: String, fp: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$fp".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_$tag$params"
  }

  /** Build-once the artifact for a key and return its path. */
  def ensure(kind: String, params: String, dir: String, fp: String)(
      build: String => Unit): String =
    publish(pathOf(kind, params, dir, fp))(build)

  /** Build into a temp sibling, mark it complete, and rename it into
    * place unless `path` already holds a marked build. Builds are
    * deterministic, so a writer that loses the rename race discards a
    * bit-identical copy. Hadoop's rename moves a directory INTO an
    * existing one, so the loser also removes its copy from under the
    * winner's. An unmarked `path` (a crashed or pre-marker build) is
    * replaced.
    */
  private[graft] def publish(path: String)(build: String => Unit): String = {
    val fs = StateFs.fs(path)
    val target = new Path(path)
    def built(p: Path): Boolean = fs.exists(new Path(p, Marker))
    if (!built(target)) {
      val tmp = new Path(s"${path}_w${java.util.UUID.randomUUID().toString.take(8)}")
      build(tmp.toString)
      fs.create(new Path(tmp, Marker), true).close()
      if (fs.exists(target) && !built(target)) fs.delete(target, true)
      if (fs.exists(target) || !fs.rename(tmp, target)) fs.delete(tmp, true)
      fs.delete(new Path(target, tmp.getName), true)
    }
    path
  }

  /** Cheap content fingerprint of one table of a corpus dir: row count
    * plus an order-independent sum of per-row murmur hashes over EVERY
    * column (name-sorted, so physical column order is immaterial), in
    * one bounded 1-row aggregate. Rewriting any column in place — a
    * label-only rewrite included — changes it, so a cached artifact can
    * never silently outlive the data it was built from (the cache
    * survives JVM restarts, so a path-only key could).
    */
  def fingerprint(s: SparkSession, dir: String, table: String): String = {
    val df = t(s, dir, table)
    val r = df
      .agg(count(lit(1)),
        coalesce(
          sum(hash(df.columns.sorted.map(col).toIndexedSeq: _*).cast("long")),
          lit(0L)))
      .head()
    s"${r.getLong(0)}x${java.lang.Long.toHexString(r.getLong(1))}"
  }
}
