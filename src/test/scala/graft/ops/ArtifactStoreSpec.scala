package graft.ops

import graft.SparkSpec
import graft.streaming.{GraftTestFs, StateFs}

class ArtifactStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("artifact store: one build per key when the committer writes no _SUCCESS") {
    val flag = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Option(conf.get(flag))
    conf.set(flag, "false")
    try {
      // a fresh corpus dir is a fresh key
      val dir = tmp("graft-store-nosuccess")
      var builds = 0
      def ensure(): String = ArtifactStore.ensure("storespec", "", dir, "fp") { p =>
        builds += 1
        Seq(1L, 2L).toDF("x").write.parquet(p)
      }
      val p1 = ensure()
      val p2 = ensure()
      assert(builds == 1, "the second ensure must hit the published artifact")
      assert(p1 == p2)
      assert(!StateFs.exists(s"$p1/_SUCCESS"), "the committer wrote _SUCCESS: flag not applied")
      assert(StateFs.exists(s"$p1/${ArtifactStore.Marker}"))
      assert(spark.read.parquet(p1).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      // a real frozen artifact under the same setting: the quantizer is
      // trained once, and the second call reuses it
      val work = tmp("graft-store-quant")
      (0 until 40).map { i =>
        val r = new scala.util.Random(9000 + i)
        (i.toLong, Array.fill(8)(r.nextFloat()))
      }.toDF("vec_id", "embedding")
        .write.parquet(s"$work/embeddings.parquet")
      val q = Curation.ensureSemanticQuantizer(spark, work, 4)
      val marker = new java.io.File(s"$q/${ArtifactStore.Marker}")
      val mtime = marker.lastModified()
      assert(Curation.ensureSemanticQuantizer(spark, work, 4) == q)
      assert(marker.lastModified() == mtime, "the quantizer was rebuilt")
    } finally before match {
      case Some(v) => conf.set(flag, v)
      case None => conf.unset(flag)
    }
  }

  test("artifact store: race losers discard their copy; unmarked builds are replaced") {
    val root = tmp("graft-store-race")
    val path = s"$root/graft_storespec_race"
    var builds = 0
    def write(v: Long)(p: String): Unit = {
      builds += 1
      Seq(v).toDF("x").write.parquet(p)
    }
    // a build without the store's marker (crashed, or published before
    // the marker existed) is never served: the next publish replaces it
    Seq(0L).toDF("x").write.parquet(path)
    // the outer writer builds; meanwhile another writer publishes first
    ArtifactStore.publish(path) { p =>
      ArtifactStore.publish(path)(write(1L))
      write(2L)(p)
    }
    assert(builds == 2)
    assert(spark.read.parquet(path).as[Long].collect().toSeq == Seq(1L),
      "the first marked build must win over the unmarked one and the loser")
    assert(StateFs.list(root).map(_.getName) == Seq("graft_storespec_race"),
      "the losing writer's temp copy must be gone")
    assert(!StateFs.list(path).exists(_.getName.startsWith("graft_")),
      "the losing copy must not be left nested under the winner")
  }

  test("artifact store: publishes and re-reads on a non-file:// scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val path = s"graftfs:${tmp("graft-store-fs")}/graft_storespec_fs"
    var builds = 0
    def publish(): String = ArtifactStore.publish(path) { p =>
      builds += 1
      Seq(3L, 4L).toDF("x").write.parquet(p)
    }
    publish()
    publish()
    assert(builds == 1, "the marker must be found through the path's own filesystem")
    assert(StateFs.exists(s"$path/${ArtifactStore.Marker}"))
    assert(spark.read.parquet(path).as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }
}
