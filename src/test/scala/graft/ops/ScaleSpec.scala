package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    val events = graft.Tables.t(spark, sfDir, "events")
    val direct = events.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").cast("decimal(18,4)").as("total"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    val salted = Scale.saltedAggregate(
      events, $"event_type", salts = 7,
      Seq(
        (count(lit(1)), sum(col("n")), "n"),
        (sum($"value".cast("decimal(18,4)")).cast("decimal(18,4)"),
          sum(col("total")).cast("decimal(18,4)"), "total")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    assert(salted == direct)
  }

  test("IVF index on disk: probes prune partitions; exhaustive equals brute force") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    graft.ops.Similarity.writeIvfIndex(spark, sfDir, work)
    // one directory per centroid on disk
    val dirs = new java.io.File(s"$work/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id=")).map(_.getName)
    assert(dirs.length > 2, s"expected several centroid partitions, got ${dirs.toSeq}")

    // pruned probe: the scan carries a partition filter on cent_id and
    // never opens un-probed directories
    val pruned = graft.ops.Similarity.searchIvfIndex(spark, sfDir, work, nprobe = 2)
    pruned.collect()
    val scans = pruned.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val idxScan = scans.find(p => p.contains(work) || p.contains("cent_id"))
    assert(idxScan.exists(_.contains("PartitionFilters")),
      s"index scan has no partition filter:\n${scans.mkString("\n")}")
    assert(idxScan.exists(p =>
        "PartitionFilters: \\[[^\\]]*cent_id[^\\]]*\\]".r.findFirstIn(p).nonEmpty),
      s"partition filter not on cent_id:\n${idxScan.get}")

    // exhaustive probing covers every partition -> must equal brute
    // force bit-exactly (the re-rank reads the exact stored doubles)
    val k = dirs.length
    val exhaustive = graft.ops.Similarity.searchIvfIndex(spark, sfDir, work, nprobe = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val brute = graft.ops.Similarity.simBruteTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(exhaustive.toSeq == brute.toSeq)

    // incremental maintenance: append a batch against the FROZEN
    // quantizer; exhaustive search must now equal brute force over the
    // union (appended vectors are exact twins of corpus vectors, so
    // they MUST surface right next to their originals)
    graft.functions.GraftFunctions.register(spark)
    val all = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val twinIds = brute.map(_._3).distinct.take(5)
    val batch = all.filter($"vec_id".isInCollection(twinIds))
      .select(($"vec_id" + 100000L).as("vec_id"), $"e")
    graft.ops.Similarity.appendIvfBatch(spark, work, batch)
    val after = graft.ops.Similarity.searchIvfIndex(spark, sfDir, work, nprobe = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val union = all.union(batch)
    val q = union.filter($"vec_id" < graft.ops.Similarity.NumQueries)
      .select($"vec_id".as("query_id"), $"e".as("qe"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"cand_id".asc)
    val bruteUnion = union.select($"vec_id".as("cand_id"), $"e")
      .join(broadcast(q), $"query_id" =!= $"cand_id")
      .select($"query_id", $"cand_id",
        call_function("cosine_sim", $"qe", $"e").as("cos"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter($"rk" <= graft.ops.Similarity.TopK)
      .select($"query_id", $"rk", $"cand_id", $"cos")
      .orderBy("query_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(after.toSeq == bruteUnion.toSeq)
    assert(after.exists(_._3 >= 100000L), "an appended twin reaches the top-k")

    // directory fragmentation: several more small appends multiply the
    // files inside each cent_id= directory; the probe scan must STILL
    // prune at the FileSourceScan level — the partition filter is on
    // the directory value, so fragment count cannot erode it
    (1 to 4).foreach { i =>
      graft.ops.Similarity.appendIvfBatch(spark, work,
        all.filter($"vec_id".isInCollection(twinIds))
          .select(($"vec_id" + 200000L + i * 1000L).as("vec_id"), $"e"))
    }
    val fragProbe = graft.ops.Similarity.searchIvfIndex(spark, sfDir, work, nprobe = 2)
    fragProbe.collect()
    val fragScans = fragProbe.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val fragIdx = fragScans.find(p => p.contains(work) || p.contains("cent_id"))
    assert(fragIdx.exists(p =>
        "PartitionFilters: \\[[^\\]]*cent_id[^\\]]*\\]".r.findFirstIn(p).nonEmpty),
      s"post-append probe lost partition pruning:\n${fragScans.mkString("\n")}")
  }

  test("bucketed join plans without a shuffle exchange on either side") {
    import spark.implicits._
    val orders = graft.Tables.t(spark, sfDir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    val customer = graft.Tables.t(spark, sfDir, "customer")
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    val joined = Scale.bucketedJoin(spark, orders, customer,
      "b_orders", "b_customer", "o_custkey", buckets = 4)
    joined.collect() // finalize AQE
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // sanity: result matches a plain join
    val expected = orders.join(customer, "o_custkey").count()
    assert(joined.count() == expected)
  }

  test("AQE splits the skewed partition of a sort-merge join at runtime") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying ~100× the median partition's bytes
      val left = (1 to 200000).map(i => (0L, s"payload-$i")) ++
        (1 to 2000).map(i => ((i % 100 + 1).toLong, s"p-$i"))
      val right = (0 to 100).flatMap(k => (1 to 20).map(i => (k.toLong, i)))
      val joined = left.toDF("k", "v").join(right.toDF("k", "w"), "k")
      // run THIS Dataset's adaptive plan (a write action would build its
      // own QueryExecution and leave this one isFinalPlan=false)
      val qe = joined.queryExecution
      qe.executedPlan.execute().count()
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    import spark.implicits._
    // a selective dim filter should inject a bloom-filter runtime filter
    // into the fact scan (row-level semi-join reduction before the
    // shuffle) — the Spark-native counterpart of a manual bloom gate.
    // Thresholds are tuned down to fire at test scale; at 100 TB the
    // defaults (10MB creation side / 10GB application side) do the same.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // broadcast would bypass
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.Tables.t(spark, sfDir, "lineitem")
        .select($"l_partkey", $"l_quantity")
      val dim = graft.Tables.t(spark, sfDir, "part")
        .filter($"p_size" === 1).select($"p_partkey", $"p_name")
      val joined = li.join(dim, $"l_partkey" === $"p_partkey")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"no runtime bloom filter injected:\n$plan")
      // and it did not change the answer
      val expected = li.join(dim.hint("broadcast"), $"l_partkey" === $"p_partkey").count()
      assert(joined.count() == expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("z-ordered layout prunes a 2-D box better than single-column clustering") {
    import spark.implicits._
    val bits = 10
    val n = 1L << bits // 1024-wide grid on both axes
    // two decorrelated uniform dimensions (Knuth multiplicative hash on
    // the second so (x, y) fills the grid instead of the diagonal)
    val df = spark.range(1 << 16)
      .select(($"id" % n).as("x"),
        (expr("id * 2654435761") % n).as("y"))
    val base = java.nio.file.Files.createTempDirectory("zorder").toString

    Scale.writeZOrdered(df, $"x", $"y", s"$base/zorder", partitions = 32, bits = bits)
    Scale.writeRangeClustered(df, $"x", s"$base/xonly", partitions = 32)

    def filesTouching(path: String, lo: Long, hi: Long): Set[String] = {
      val xr = Scale.parquetFileRanges(spark, path, "x")
      val yr = Scale.parquetFileRanges(spark, path, "y").map(r => r._1 -> r).toMap
      xr.filter { case (f, xmn, xmx) =>
        val (_, ymn, ymx) = yr(f)
        xmx >= lo && xmn <= hi && ymx >= lo && ymn <= hi
      }.map(_._1).toSet
    }
    // a box covering 1/8 x 1/8 of the grid
    val (lo, hi) = (0L, n / 8 - 1)
    val zTouched = filesTouching(s"$base/zorder", lo, hi).size
    val xTouched = filesTouching(s"$base/xonly", lo, hi).size
    val zTotal = Scale.parquetFileRanges(spark, s"$base/zorder", "x").size
    assert(zTotal >= 16, "expected many z-ordered files")
    assert(zTouched < xTouched,
      s"z-order should prune more files for a 2-D box: z=$zTouched x=$xTouched")
    assert(zTouched <= zTotal / 4,
      s"z-order should touch a small fraction of files: $zTouched of $zTotal")

    // correctness: the layout changes bytes on disk, never the data
    val readBack = spark.read.parquet(s"$base/zorder")
      .agg(count(lit(1)), sum($"x"), sum($"y")).collect()(0)
    val direct = df.agg(count(lit(1)), sum($"x"), sum($"y")).collect()(0)
    assert(readBack == direct)
  }

  test("rank-scaled z-order prunes a skewed dimension where linear scaling collapses") {
    import spark.implicits._
    val bits = 6
    // x is heavy-tailed: 15/16 of rows live in [0, 4096) while the top
    // 1/16 stretch the range to 2^20 — a linear 6-bit grid puts ~94% of
    // rows in cell 0 of x, so the z-curve degenerates to y-only
    // clustering for the dense mass. y stays uniform.
    val df = spark.range(1 << 16).select(
      when(($"id" % 16) === 0, (expr("id * 2654435761") % (1L << 20)))
        .otherwise((expr("id * 40503") % 4096L)).as("x"),
      (expr("id * 2654435761") % 1024L).as("y"))
    val base = java.nio.file.Files.createTempDirectory("zrank").toString

    Scale.writeZOrderedRank(df, $"x", $"y", s"$base/rank", partitions = 32, bits = bits)
    val maxX = df.agg(max($"x")).head().getLong(0)
    Scale.writeZOrdered(df,
      Scale.scaleToBits($"x", 0L, maxX, bits),
      Scale.scaleToBits($"y", 0L, 1023L, bits),
      s"$base/linear", partitions = 32, bits = bits)

    // the rank cutpoints really are equi-depth: each of the 2^bits cells
    // holds ~n/2^bits rows (ties can only merge cells, never overfill
    // one beyond the duplicate mass; this corpus has distinct-ish x)
    val cuts = Scale.rankCutpoints(df, $"x", bits)
    assert(cuts.length == (1 << bits) - 1 && cuts.sorted.sameElements(cuts))
    val occ = df.select(Scale.rankScaleToBits($"x", cuts).as("cell"))
      .groupBy($"cell").count().collect().map(_.getLong(1))
    val expected = (1 << 16).toDouble / (1 << bits)
    assert(occ.max <= expected * 2.0,
      s"rank cells must stay balanced: max ${occ.max} vs expected $expected")

    // a 2-D box SELECTIVE IN BOTH DIMS inside the dense region: x in
    // [0, 256) — 1/16 of the dense mass, but entirely inside the linear
    // grid's cell 0 (94% of all rows), so the linear layout gets NO x
    // pruning there and falls back to y-only clustering; the rank grid
    // resolves the same slice into ~4 of 64 x-cells
    def touching(path: String): Int = {
      val xr = Scale.parquetFileRanges(spark, path, "x")
      val yr = Scale.parquetFileRanges(spark, path, "y").map(r => r._1 -> r).toMap
      xr.count { case (f, xmn, xmx) =>
        val (_, ymn, ymx) = yr(f)
        xmx >= 0L && xmn <= 255L && ymx >= 0L && ymn <= 127L
      }
    }
    val rankTouched = touching(s"$base/rank")
    val linTouched = touching(s"$base/linear")
    val total = Scale.parquetFileRanges(spark, s"$base/rank", "x").size
    assert(total >= 16, "expected many files")
    assert(rankTouched < linTouched,
      s"rank grid must prune the dense box better: rank=$rankTouched linear=$linTouched")

    // the layout changes bytes on disk, never the data
    val back = spark.read.parquet(s"$base/rank")
      .agg(count(lit(1)), sum($"x"), sum($"y")).collect()(0)
    val direct = df.agg(count(lit(1)), sum($"x"), sum($"y")).collect()(0)
    assert(back == direct)
  }

  test("ScalaCheck: distributed rank cutpoints equal the naive sorted reference") {
    import spark.implicits._
    import org.scalacheck.Gen
    // value pools with heavy duplication AND spread; mixed signs
    val genVals = for {
      n <- Gen.choose(1, 400)
      vs <- Gen.listOfN(n, Gen.frequency(
        5 -> Gen.choose(-50, 50),
        3 -> Gen.oneOf(0, 1, 7),
        2 -> Gen.choose(-100000, 100000)))
    } yield vs.map(_.toDouble)
    (0 until 10).foreach { seed =>
      genVals.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed.toLong)).foreach { vs =>
        val den = Seq(4, 10, 64)(seed % 3)
        val df = vs.toDF("v").repartition(1 + seed % 5)
        val got = Scale.rankCutpointsN(df, $"v", den, partitions = 1 + seed % 7)
        // naive: cut_q = first value (sorted) whose 1-based rank r has
        // den*r >= q*n — the inclusive integer-rank definition
        val sorted = vs.sorted
        val n = sorted.length
        val want = (1 until den).map { q =>
          sorted(sorted.indices.find(i => den.toLong * (i + 1) >= q.toLong * n).get)
        }.toArray
        assert(got.sameElements(want),
          s"seed $seed den $den n $n: ${got.toSeq} != ${want.toSeq}")
      }
    }
    // empty input degrades to no cutpoints, not a crash
    assert(Scale.rankCutpointsN(
      Seq.empty[Double].toDF("v"), $"v", 10).isEmpty)
  }

  test("range-clustered layout yields disjoint per-file key ranges; plain write does not") {
    import spark.implicits._
    val orders = graft.Tables.t(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val base = java.nio.file.Files.createTempDirectory("rangelayout").toString

    Scale.writeRangeClustered(orders, $"o_orderkey", s"$base/clustered", partitions = 8)
    val clustered = Scale.parquetFileRanges(spark, s"$base/clustered", "o_orderkey")
      .sortBy(_._2)
    assert(clustered.size >= 2, "expected multiple output files")
    // pairwise-disjoint: every file's min exceeds the previous file's max
    clustered.sliding(2).foreach {
      case Seq((_, _, prevMax), (f, mn, _)) =>
        assert(mn > prevMax, s"file $f overlaps the previous range")
      case _ => ()
    }

    // control: a hash-repartitioned write scatters keys across files -
    // each file spans nearly the full key range, nothing can be skipped
    orders.repartition(8).write.mode("overwrite").parquet(s"$base/scattered")
    val scattered = Scale.parquetFileRanges(spark, s"$base/scattered", "o_orderkey")
    val fullMin = scattered.map(_._2).min
    val fullMax = scattered.map(_._3).max
    val overlapping = scattered.count { case (_, mn, mx) =>
      (mx - mn) > (fullMax - fullMin) / 2 }
    assert(overlapping == scattered.size,
      "control files should each span most of the key range")

    // the property the layout buys: a selective range predicate matches
    // only 1-2 files' [min,max] - a reader skips the rest on footers alone
    val probeLo = fullMin + (fullMax - fullMin) / 2
    val probeHi = probeLo + (fullMax - fullMin) / 20
    val touched = clustered.count { case (_, mn, mx) => mx >= probeLo && mn <= probeHi }
    assert(touched <= 2, s"range probe should touch <=2 clustered files, got $touched")
  }

  test("small-file compaction: file count collapses to the byte target, rows survive exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").resolve("t").toString
    // 64 deliberately tiny files
    (1L to 20000L).map(i => (i, s"row$i")).toDF("id", "payload")
      .repartition(64).write.parquet(dir)
    val before = spark.read.parquet(dir)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val total = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = math.max(1L, total / 4) // aim for ~4 output files
    val (nBefore, bytes, nAfter) = Scale.compactSmallFiles(spark, dir, target)
    assert(nBefore == 64L && bytes == total)
    assert(nAfter <= 6L, s"64 small files should collapse to ~4-5, got $nAfter")
    val after = spark.read.parquet(dir)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(after == before, "compaction must preserve every row exactly")
    // idempotence: a second pass at the same target is a near-no-op
    val (n2, _, n3) = Scale.compactSmallFiles(spark, dir, target)
    assert(n2 == nAfter && n3 <= nAfter,
      "re-compacting an already-compact directory must not fragment it")
  }

  test("ntile boundaries + codegen score equal the window ntile exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    // totals straddling the empty, total<n, total==n, remainder and
    // heavy-duplicate-key regimes of the ntile size formula
    Seq(0, 1, 3, 5, 6, 23, 97, 250).foreach { n =>
      val rows = (0 until n).map(i => (rnd.nextInt(7).toLong, i.toLong))
      val df = rows.toDF("k", "id")
      val bounds = Scale.ntileBoundaries(df, col("k"), col("id"), 5, partitions = 3)
      if (n == 0) assert(bounds.isEmpty)
      else {
        assert(bounds.length == 4, s"n=$n: ${bounds.toSeq}")
        val got = df.withColumn("t",
            Scale.ntileFromBoundaries(col("k"), col("id"), bounds))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val ref = df.withColumn("t",
            ntile(5).over(Window.orderBy(col("k").asc, col("id").asc)).cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(got == ref, s"n=$n")
      }
    }
  }

  test("perKeyRowNumber equals the per-key rank window exactly, any key skew") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(0x17)
    // regimes: empty, one hot key owning ~90% of rows (the mega-key
    // case the kernel exists for), uniform keys, single-row keys
    Seq(0, 1, 7, 100, 450).foreach { n =>
      val rows = (0 until n).map { i =>
        val k = if (rnd.nextInt(10) < 9) "hot" else s"k${rnd.nextInt(5)}"
        (k, rnd.nextInt(50).toLong, i.toLong)
      }
      val df = rows.toDF("k", "v", "id")
      val got = Scale.perKeyRowNumber(df, "k", Seq("v", "id"), "rk",
          partitions = 4)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      val ref = df.withColumn("rk", row_number().over(
          Window.partitionBy($"k").orderBy($"v".asc, $"id".asc)).cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      assert(got == ref, s"n=$n")
    }
  }

  test("runningSum equals a sequential scan: null groups, zero weights, empty partitions, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5ca1e)
    // (group, v, id, weight) rows, about one weight in four zero
    def gen(n: Int, groups: IndexedSeq[String]) = (0 until n).map { i =>
      (groups(rnd.nextInt(groups.length)), rnd.nextInt(20).toLong, i.toLong,
        if (rnd.nextInt(4) == 0) 0L else rnd.nextInt(100).toLong)
    }
    val mixed = IndexedSeq(null, null, "a", "b", "hot", "hot", "hot")
    // empty input; fewer rows than partitions (empty partitions); one
    // group owning every row, so it spans every partition; mixed groups
    // with nulls
    val inputs = Seq(gen(0, mixed), gen(5, mixed), gen(400, IndexedSeq("hot")),
      gen(400, mixed))
    for (rows <- inputs; grouped <- Seq(true, false); p <- Seq(1, 7, 32)) {
      val df = rows.toDF("g", "v", "id", "w")
      val rs = Scale.runningSum(df, if (grouped) Some("g") else None,
        Seq($"v".asc, $"id".asc), Some("w"), p)
      val got = rs.rows.select("id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: one sequential pass over the driver-sorted rows
      val ordered =
        if (grouped) rows.sortBy(r => (Option(r._1), r._2, r._3))
        else rows.sortBy(r => (r._2, r._3))
      val run = scala.collection.mutable.Map.empty[Any, Long]
      val want = ordered.map { case (g, _, id, w) =>
        val k: Any = if (grouped) g else null
        run(k) = run.getOrElse(k, 0L) + w
        id -> run(k)
      }.toMap
      val what = s"n=${rows.length} grouped=$grouped p=$p"
      assert(got == want, what)
      assert(rs.totals == run.toMap, what)
      if (rows.length == 400 && rows.forall(_._1 == "hot"))
        assert(rs.rows.select(spark_partition_id()).distinct().count() == p,
          s"the one group must span every partition: $what")
    }
  }

  test("the two-pass prefix scan lives only in Scale.runningSum") {
    // every per-partition scan in the program is the one kernel's: the
    // hand-copied scans drifted apart (a null group restarted its sum
    // in every partition after the first)
    val lines = graft.MainSources.lines
    val scans = lines.filter(_._2.contains("mapPartitionsWithIndex")).map(_._1)
    val scale = lines.filter(_._1.startsWith("src/main/scala/graft/ops/Scale.scala:"))
    val from = scale.indexWhere(_._2.contains("def runningSum("))
    val to = scale.indexWhere(_._2.startsWith("  def "), from + 1)
    assert(from >= 0 && to > from, "Scale.runningSum not found")
    val kernel = scale.slice(from, to).map(_._1).toSet
    assert(scans.nonEmpty && scans.forall(kernel),
      s"mapPartitionsWithIndex outside Scale.runningSum (use the kernel): " +
        scans.filterNot(kernel))
  }
}
