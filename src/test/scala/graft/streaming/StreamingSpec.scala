package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming end-to-end (reference:
  * tests/integration/test_streaming_spark.py:62-243): rate→memory,
  * file→parquet with availableNow + transform, watermark pass-through,
  * and the declarative streaming transforms the reference leaves to user
  * code (windowed agg, dedup-within-watermark, stateful groups).
  */
class StreamingSpec extends SparkSpec {

  test("rate source -> memory sink produces rows") {
    val q = new StreamingPipeline(
      source = RateStreamingSource(rowsPerSecond = 50, numPartitions = 2),
      sink = MemoryStreamingSink("rate_mem"),
      queryName = Some("rate_mem"),
      trigger = TriggerConfig.ProcessingTime("200 milliseconds"))
      .startStream(spark)
    try {
      q.processAllAvailable()
      Thread.sleep(1200)
      q.processAllAvailable()
      assert(spark.table("rate_mem").count() >= 0) // table exists
    } finally q.stop()
  }

  test("file source -> transform -> parquet sink with availableNow") {
    val work = Files.createTempDirectory("graft-stream")
    val in = work.resolve("in"); Files.createDirectories(in)
    val out = work.resolve("out").toString
    val cp = work.resolve("cp").toString
    spark.range(0, 100).selectExpr("id", "id * 2 AS value")
      .write.parquet(in.resolve("batch1").toString)

    // the reference's transform-hook test multiplies value by 2
    // (test_streaming_spark.py:215)
    val q = new StreamingPipeline(
      source = FileStreamingSource(in.toString + "/*",
        schemaDdl = Some("id LONG, value LONG")),
      sink = FileStreamingSink(out),
      transform = df => df.selectExpr("id", "value * 2 AS value"),
      trigger = TriggerConfig.AvailableNow,
      checkpointLocation = Some(cp))
      .startStream(spark)
    q.awaitTermination(60000)

    val result = spark.read.parquet(out)
    assert(result.count() == 100)
    assert(result.agg(max("value")).head.getLong(0) == 99 * 4)
  }

  test("listener-backed hooks observe batches") {
    val batches = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val terminated = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hooks = new StreamingHooks {
      override def onBatchProgress(b: Long, rows: Long, ms: Long): Unit = batches.add(rows)
      override def onQueryTerminated(id: String, e: Option[String]): Unit = terminated.set(true)
    }
    val work = Files.createTempDirectory("graft-hooks")
    spark.range(0, 10).write.parquet(work.resolve("in/b1").toString)
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("id LONG")),
      sink = MemoryStreamingSink("hooked"),
      queryName = Some("hooked"),
      trigger = TriggerConfig.AvailableNow,
      hooks = hooks).startStream(spark)
    q.awaitTermination(60000)
    // listener events are async relative to query termination
    val deadline = System.nanoTime() + 15e9.toLong
    while ((!terminated.get() || batches.isEmpty) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(batches.toArray.map(_.asInstanceOf[Long]).sum == 10)
    assert(terminated.get())
  }

  test("tumbling-window aggregation with watermark (engine extension)") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-win")
    Seq(
      ("2024-01-01 00:00:10", "click"), ("2024-01-01 00:00:50", "click"),
      ("2024-01-01 00:01:10", "view"), ("2024-01-01 00:01:20", "click"))
      .toDF("ts_s", "event_type")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
      .write.parquet(work.resolve("in/b1").toString)

    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("ts TIMESTAMP, event_type STRING"),
        watermarkColumn = Some("ts"), watermarkDelay = Some("10 minutes")),
      sink = MemoryStreamingSink("windowed"),
      transform = df => df
        .groupBy(window($"ts", "1 minute"), $"event_type")
        .agg(count(lit(1)).as("n")),
      outputMode = OutputMode.Complete,
      queryName = Some("windowed"),
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)

    val rows = spark.table("windowed")
      .selectExpr("date_format(window.start, 'HH:mm') AS w", "event_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(("00:00", "click", 2L), ("00:01", "view", 1L), ("00:01", "click", 1L)))
  }

  test("dropDuplicatesWithinWatermark as a streaming transform") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-dedup")
    Seq(("2024-01-01 00:00:01", 1L), ("2024-01-01 00:00:02", 1L),
      ("2024-01-01 00:00:03", 2L))
      .toDF("ts_s", "k")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "k")
      .write.parquet(work.resolve("in/b1").toString)
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("ts TIMESTAMP, k LONG"),
        watermarkColumn = Some("ts"), watermarkDelay = Some("1 hour")),
      sink = MemoryStreamingSink("deduped"),
      transform = _.dropDuplicatesWithinWatermark("k"),
      queryName = Some("deduped"),
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)
    assert(spark.table("deduped").select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("session_window transform: stream-batch parity on gap sessions") {
    import spark.implicits._
    // two users; user 1 has two sessions split by a >5 min gap
    val fixture = Seq(
      ("2024-01-01 00:00:10", 1L, 1.0), ("2024-01-01 00:02:00", 1L, 2.0),
      ("2024-01-01 00:20:00", 1L, 4.0),
      ("2024-01-01 00:01:00", 2L, 8.0))
    val transform = WindowTransforms.session(
      "ts", "5 minutes", Seq("user_id"),
      Seq(count(lit(1)).as("n"), sum($"value").as("sv")))

    val batchDf = fixture.toDF("ts_s", "user_id", "value")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "value")
    def key(r: org.apache.spark.sql.Row) =
      (r.getStruct(0).getTimestamp(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))
    val batch = transform(batchDf).collect().map(key).toSet
    assert(batch.size == 3, s"expected 3 sessions, got $batch")

    val work = Files.createTempDirectory("graft-session")
    batchDf.write.parquet(work.resolve("in/b1").toString)
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("ts TIMESTAMP, user_id LONG, value DOUBLE")),
      sink = MemoryStreamingSink("sessioned"),
      transform = transform,
      outputMode = OutputMode.Complete,
      queryName = Some("sessioned"),
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)
    val streamed = spark.table("sessioned").collect().map(key).toSet
    assert(streamed == batch, "streaming session windows must match batch")
  }

  test("streaming incremental dedup: incoming docs near-dup-checked per batch") {
    import spark.implicits._
    import graft.ops.Dedup
    // static corpus: two docs
    val baseText = "the quick brown fox jumps over the lazy dog again and again and again"
    val base = Seq((1L, baseText), (2L, "completely different content about spark plans and shuffles here"))
      .toDF("doc_id", "text")
    val baseSets = Dedup.shingleSetsOf(base).cache()
    baseSets.count()

    // stream: one near-dup of doc 1, one novel doc
    val work = Files.createTempDirectory("graft-incdedup")
    Seq((10L, baseText + " extra"), (11L, "novel text that matches nothing in the corpus at all today"))
      .toDF("doc_id", "text")
      .write.parquet(work.resolve("in/b1").toString)

    val flagged = scala.collection.mutable.Set[Long]()
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("doc_id LONG, text STRING")),
      sink = ForeachBatchSink { (batch, _) =>
        val dups = Dedup.crossCorpusNearDups(
          Dedup.shingleSetsOf(batch), baseSets, threshold = 0.7)
          .select("a").collect().map(_.getLong(0))
        flagged.synchronized { flagged ++= dups; () }
      },
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)
    assert(flagged.toSet == Set(10L),
      s"only the near-dup of the corpus doc should be flagged, got $flagged")
    baseSets.unpersist()
  }

  test("streaming curation transforms: PII redaction + repetition metrics match batch") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "mail me at alice@example.com or visit https://ex.org/a. same text. same text"),
      (2L, "clean document with no contact details and no repeats at all"))
    val work = Files.createTempDirectory("graft-pii-stream")
    docs.toDF("doc_id", "text").write.parquet(work.resolve("in/b1").toString)

    val batchExpected = TextAnalysis.repetitionOf(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val batchRedacted = docs.toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val streamed = scala.collection.mutable.Map[Long, (Seq[Any], String)]()
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("doc_id LONG, text STRING")),
      sink = ForeachBatchSink { (batch, _) =>
        val rep = TextAnalysis.repetitionOf(batch)
          .collect().map(r => r.getLong(0) -> r.toSeq).toMap
        val red = batch.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("r"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        streamed.synchronized {
          rep.foreach { case (id, m) => streamed(id) = (m, red(id)) }
        }
        ()
      },
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)
    assert(streamed.keySet == Set(1L, 2L))
    streamed.foreach { case (id, (rep, red)) =>
      assert(rep == batchExpected(id), s"repetition metrics diverge for doc $id")
      assert(red == batchRedacted(id), s"redaction diverges for doc $id")
    }
    assert(streamed(1L)._2.contains("<EMAIL>") && streamed(1L)._2.contains("<URL>"))
  }

  test("streaming familiarity: frozen batch-trained model scores micro-batches like batch") {
    import spark.implicits._
    import graft.ops.Curation
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat naps under the warm sun"))
    // freeze the model trained on the corpus — the streaming side must
    // not retrain per batch (localCheckpoint = ship the table, the
    // foreachBatch closure only scores)
    val model = Curation.trainTrigramModel(corpus.toDF("doc_id", "text"))
      .localCheckpoint(true)
    val incoming = Seq(
      (10L, "the quick brown fox naps in the sun"), // familiar
      (11L, "zzzz qqqq xxxx vvvv kkkk jjjj wwww"))  // unseen trigrams
    val batchExpected = Curation
      .scoreFamiliarity(incoming.toDF("doc_id", "text"), model)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap

    val work = Files.createTempDirectory("graft-fam-stream")
    incoming.toDF("doc_id", "text").write.parquet(work.resolve("in/b1").toString)
    val streamed = scala.collection.mutable.Map[Long, Seq[Any]]()
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("doc_id LONG, text STRING")),
      sink = ForeachBatchSink { (batch, _) =>
        val scored = Curation.scoreFamiliarity(batch, model)
          .collect().map(r => r.getLong(0) -> r.toSeq).toMap
        streamed.synchronized { streamed ++= scored }
        ()
      },
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)
    assert(streamed.keySet == Set(10L, 11L))
    streamed.foreach { case (id, row) =>
      assert(row == batchExpected(id), s"familiarity diverges for doc $id")
    }
    // unseen text scores strictly lower than familiar text, and the
    // all-unseen doc has fam_sum 0 with a full denominator
    val fam10 = streamed(10L)(3).asInstanceOf[Double]
    val fam11 = streamed(11L)(3).asInstanceOf[Double]
    assert(fam11 == 0.0 && streamed(11L)(1).asInstanceOf[Long] > 0)
    assert(fam10 > fam11)
  }

  test("streaming char LM: frozen batch-trained model scores micro-batches like batch") {
    import spark.implicits._
    import graft.ops.Curation
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat naps under the warm sun"))
    // train + FREEZE on disk; the foreachBatch closure reads the model
    // back once and only scores — no per-batch retraining
    val work = Files.createTempDirectory("graft-charlm-stream")
    Curation.writeCharLm(
      Curation.trainCharLm(corpus.toDF("doc_id", "text")),
      work.resolve("model").toString)
    val model = Curation.readCharLm(spark, work.resolve("model").toString)
    val incoming = Seq(
      (10L, "the quick brown fox naps in the sun"),
      (11L, "zzzz qqqq xxxx vvvv kkkk jjjj wwww"))
    val batchExpected = Curation
      .scoreCharLm(incoming.toDF("doc_id", "text"), model)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    incoming.toDF("doc_id", "text").write.parquet(work.resolve("in/b1").toString)
    val streamed = scala.collection.mutable.Map[Long, Seq[Any]]()
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("doc_id LONG, text STRING")),
      sink = ForeachBatchSink { (batch, _) =>
        val scored = Curation.scoreCharLm(batch, model)
          .collect().map(r => r.getLong(0) -> r.toSeq).toMap
        streamed.synchronized { streamed ++= scored }
        ()
      },
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)
    assert(streamed.keySet == Set(10L, 11L))
    streamed.foreach { case (id, row) =>
      assert(row == batchExpected(id), s"char LM diverges for doc $id")
    }
    // the all-unseen doc scores strictly lower under the frozen model
    val lp10 = streamed(10L)(2).asInstanceOf[Double]
    val lp11 = streamed(11L)(2).asInstanceOf[Double]
    assert(lp10 > lp11)
  }

  test("incremental streaming curation: PII+quality+exact+near-dup against a growing corpus") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-curation")
    val state = work.resolve("state").toString
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps nearby today"

    // batch 1: two novel docs (one carrying PII that must not block acceptance)
    Seq((1L, base),
      (2L, "completely different content about spark plans and shuffle behavior mail bob@x.io"))
      .toDF("doc_id", "text")
      .write.parquet(work.resolve("in/b1").toString)
    val q1 = StreamingCuration.start(spark, work.resolve("in").toString + "/*", state)
    q1.awaitTermination(60000)

    // batch 2 (new stream over the same state): an exact dup of doc 1,
    // a near-dup of doc 1, and one novel doc
    Seq((10L, base), (11L, base + " extra"),
      (12L, "a wholly novel document with enough tokens to pass the quality gate fine"))
      .toDF("doc_id", "text")
      .write.parquet(work.resolve("in2/b2").toString)
    val q2 = StreamingCuration.start(spark, work.resolve("in2").toString + "/*", state)
    q2.awaitTermination(60000)

    val corpus = spark.read.parquet(s"$state/corpus_docs")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(corpus.keySet == Set(1L, 2L, 12L),
      s"exact dup 10 and near-dup 11 must be rejected, got ${corpus.keySet}")
    assert(corpus.values.forall(Set("train", "val", "test")), "every doc gets a split")
    // the stored shingle sets cover exactly the accepted docs
    val setIds = spark.read.parquet(s"$state/corpus_sets")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(setIds == corpus.keySet)
    // the persisted corpus bloom exists and covers every accepted doc's
    // md5 (no false negatives = the exact-dup gate stays exact)
    val bloom = StreamingCuration.readBloom(state)
    val md5s = spark.read.parquet(s"$state/corpus_docs")
      .select("text_md5").collect().map(_.getString(0))
    assert(md5s.nonEmpty && md5s.forall(bloom.mightContainString))
    // upgrade path: a corpus whose sketch is missing rebuilds it from
    // corpus_docs instead of crashing or skipping the gate
    Files.delete(java.nio.file.Path.of(s"$state/corpus_bloom.bin"))
    val rebuilt = StreamingCuration.readOrRebuildBloom(spark, state)
    assert(md5s.forall(rebuilt.mightContainString))
    assert(Files.exists(java.nio.file.Path.of(s"$state/corpus_bloom.bin")))
    // updateBloom is a reader too (ADVICE r11 #1): a sidecar torn away
    // mid-writeAtomic with an EXISTING corpus must rebuild from
    // corpus_docs, not mint an empty sketch that would bloom-negate
    // every prior doc and let their future duplicates into the corpus
    Files.delete(java.nio.file.Path.of(s"$state/corpus_bloom.bin"))
    StreamingCuration.updateBloom(spark, state, Array("freshmd5only"))
    val folded = StreamingCuration.readBloom(state)
    assert(md5s.forall(folded.mightContainString),
      "updateBloom on a torn sidecar must carry every prior corpus md5")
    assert(folded.mightContainString("freshmd5only"))
  }

  test("streaming decontamination: a frozen eval-shingle table gates batch acceptance") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-decon-stream").resolve("s").toString
    val leakText =
      "the quick brown fox jumps over the lazy dog beside the river bank today"
    // freeze the benchmark's shingles into the curation state dir
    graft.ops.Decontamination.writeEvalShingles(
      Seq((900L, leakText)).toDF("doc_id", "text"), s"$state/eval_shingles")
    val batch = Seq(
      (1L, s"intro words $leakText closing words"), // verbatim leak
      (2L, "wholly unrelated material on rivers and bridges and stones built long ago"))
      .toDF("doc_id", "text")
    StreamingCuration.processBatch(spark, batch, state)
    val ids = spark.read.parquet(s"$state/corpus_docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L), s"leaked doc must be rejected, clean doc kept: $ids")
    // and the gate is per-batch: a later clean batch still lands
    StreamingCuration.processBatch(spark,
      Seq((3L, "another clean document with plenty of ordinary tokens to pass the gate"))
        .toDF("doc_id", "text"), state)
    val ids2 = spark.read.parquet(s"$state/corpus_docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(2L, 3L))
  }

  test("versioned eval snapshots: refreshes re-gate, crashed refresh serves the old snapshot") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    import graft.ops.Decontamination
    val state = Files.createTempDirectory("graft-decon-ver").resolve("s").toString
    val leakA = "alpha benchmark question about rivers and their bridges in autumn"
    val leakB = "beta benchmark prompt concerning mountains and their shadows at dawn"
    // snapshot V1 carries only benchmark A
    Decontamination.writeEvalShinglesVersioned(spark, state,
      Seq((900L, leakA)).toDF("doc_id", "text"))
    StreamingCuration.processBatch(spark, Seq(
        (1L, s"padding words $leakA more padding words"),
        (2L, s"padding words $leakB more padding words"))
      .toDF("doc_id", "text"), state, batchId = 0L)
    def corpus() = spark.read.parquet(s"$state/corpus_docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpus() == Set(2L), s"V1 gates only benchmark A: ${corpus()}")
    // refresh to V2 = benchmark B: the NEW snapshot gates, A no longer
    Decontamination.writeEvalShinglesVersioned(spark, state,
      Seq((901L, leakB)).toDF("doc_id", "text"))
    StreamingCuration.processBatch(spark, Seq(
        (3L, s"other words $leakA trailing words"),
        (4L, s"other words $leakB trailing words"))
      .toDF("doc_id", "text"), state, batchId = 1L)
    assert(corpus() == Set(2L, 3L), s"V2 gates only benchmark B: ${corpus()}")
    // crashed refresh: payload written, commit marker never reached —
    // the gate must keep serving the COMMITTED V2 snapshot
    val v = graft.streaming.VersionedState
      .latest(state, "eval_shingles").map(_._1).getOrElse(0) + 1
    Seq((999L, "junk")).toDF("eval_id", "sh")
      .write.mode("overwrite").parquet(s"$state/eval_shingles_v$v/data")
    StreamingCuration.processBatch(spark, Seq(
        (5L, s"closing words $leakB final words"))
      .toDF("doc_id", "text"), state, batchId = 2L)
    assert(corpus() == Set(2L, 3L),
      "uncommitted snapshot must be invisible: B still gated")
  }

  test("bloom lifecycle: an outgrown sketch rebuilds at 2x and novelty stays exact") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-bloom-grow").resolve("s").toString
    def doc(id: Long, tag: String) =
      (id, s"document $tag with plenty of ordinary tokens to clear the quality gate")
    // undersized on purpose: capacity 2, first batch accepts 3 docs →
    // the post-append corpus (3) outgrows the sizing and must trigger a
    // distributed rebuild at max(expected, 2*corpus) = 6
    StreamingCuration.processBatch(spark,
      Seq(doc(1, "alpha"), doc(2, "beta"), doc(3, "gamma")).toDF("doc_id", "text"),
      state, bloomExpectedDocs = 2L)
    assert(StreamingCuration.bloomCapacity(state).contains(6L),
      s"outgrown sketch must rebuild at 2x corpus, got ${StreamingCuration.bloomCapacity(state)}")
    // the rebuilt sketch still covers the whole corpus (no false
    // negatives survived the rebuild) …
    val bloom = StreamingCuration.readBloom(state)
    val md5s = spark.read.parquet(s"$state/corpus_docs")
      .select("text_md5").collect().map(_.getString(0))
    assert(md5s.length == 3 && md5s.forall(bloom.mightContainString))
    // … so the next batch's novelty answer is exact: the repeat of doc
    // 1 is rejected, the novel doc accepted
    val total = StreamingCuration.processBatch(spark,
      Seq(doc(10, "alpha"), doc(11, "delta")).toDF("doc_id", "text"),
      state, bloomExpectedDocs = 2L)
    val ids = spark.read.parquet(s"$state/corpus_docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 11L), s"got $ids")
    assert(total == 4L, "processBatch returns the post-append corpus size")
    // capacity keeps pace with growth but only via doubling (4 <= 6, no
    // re-trigger)
    assert(StreamingCuration.bloomCapacity(state).contains(6L))
  }

  test("incremental profile state equals the batch taProfile after N batches") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-profile").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    // the corpus arrives as 3 disjoint batches; the md5-keyed state must
    // merge duplicate texts landing in DIFFERENT batches correctly
    (0 until 3).foreach { i =>
      StreamingCuration.mergeProfileState(spark, state,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    val got = StreamingCuration.profileFromState(spark, state).collect()
    val want = graft.ops.Curation.taProfile(spark, sfDir).collect()
    assert(got.length == want.length && want.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"incremental profile diverged: $g != $w")
    }
    // processBatch wires the state update: a source-less stream batch
    // profiles under the single source "stream"
    val st2 = Files.createTempDirectory("graft-profile2").resolve("s").toString
    StreamingCuration.processBatch(spark,
      Seq((1L, "a document with plenty of ordinary tokens to clear the quality gate"),
        (2L, "tiny doc"))
        .toDF("doc_id", "text"), st2)
    val p2 = StreamingCuration.profileFromState(spark, st2).collect()
    assert(p2.length == 1 && p2.head.getString(0) == "stream")
    assert(p2.head.getLong(1) == 2L,
      "profile counts what ARRIVED (pre-gate), not what survived")
    assert(p2.head.getLong(5) == 1L, "the 2-token doc counts as short")
  }

  test("incremental mix state equals the batch greedy fill when batches respect the order") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-mixstate").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    // band the corpus on DISTINCT n_chars values (equal lengths never
    // split across batches, so batch order extends the greedy
    // n_chars-desc, doc_id-asc order exactly)
    val cuts = docs.select($"n_chars").distinct()
      .collect().map(_.getLong(0)).sorted
    val (a, b) = (cuts(cuts.length / 3), cuts(2 * cuts.length / 3))
    val batches = Seq(
      docs.filter($"n_chars" > b),
      docs.filter($"n_chars" > a && $"n_chars" <= b),
      docs.filter($"n_chars" <= a))
    assert(batches.forall(_.count() > 0), "all three bands must be non-empty")
    batches.foreach(bt => StreamingCuration.mergeMixState(spark, state, bt))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val got = StreamingCuration.mixFromState(spark, state)
      .collect().map(key).sortBy(identity).toSeq
    val want = graft.ops.Curation.mixBudgetOf(docs)
      .collect().map(key).sortBy(identity).toSeq
    assert(got == want,
      "incremental selection must be row-identical (incl. cum_tokens) to the batch fill")
    // the persisted run covers the WHOLE corpus (admitted or not): an
    // exhausted source can never admit again
    val runs = graft.streaming.VersionedState
      .readTable(spark, state, "mix", "runs").get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy($"source")
      .agg(sum(graft.ops.TextAnalysis.tokenCount($"text")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(runs == totals, "state runs must equal per-source corpus token totals")
  }

  test("incremental mix-curve state: greedy runs folded at the sweep cap reproduce the batch budget curve") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-mixcurve").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    // same greedy-order banding as the single-budget mix parity test:
    // batches arrive longest-first on distinct n_chars cuts
    val cuts = docs.select($"n_chars").distinct()
      .collect().map(_.getLong(0)).sorted
    val (a, b) = (cuts(cuts.length / 3), cuts(2 * cuts.length / 3))
    val batches = Seq(
      docs.filter($"n_chars" > b),
      docs.filter($"n_chars" > a && $"n_chars" <= b),
      docs.filter($"n_chars" <= a))
    batches.zipWithIndex.foreach { case (bt, i) =>
      StreamingCuration.mergeMixCurveState(spark, state, bt, batchId = i.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val got = rows(StreamingCuration.mixCurveFromState(spark, state))
    val want = rows(graft.ops.Curation.mixBudgetCurveOf(docs))
    assert(got == want,
      s"curve from state must equal the one-shot batch sweep: $got != $want")
    // the curve state is its OWN family: folding it never touched the
    // single-budget "mix" state...
    assert(graft.streaming.VersionedState
      .readTable(spark, state, "mix", "selected").isEmpty)
    // ...and a replayed batchId is a no-op (the curve is unchanged)
    StreamingCuration.mergeMixCurveState(spark, state, batches(1), batchId = 1L)
    assert(rows(StreamingCuration.mixCurveFromState(spark, state)) == want,
      "replayed fold must not change the served curve")
  }

  test("corpus compaction: fragmented state collapses; dedup stays exact afterward") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-compact-st").resolve("s").toString
    // 6 batches of real docs fragment corpus_docs
    val docs = graft.Tables.t(spark, sfDir, "documents").limit(60)
    (0 until 6).foreach { i =>
      StreamingCuration.processBatch(spark,
        docs.filter(pmod($"doc_id", lit(6)) === i).select($"doc_id", $"text"),
        state)
    }
    val dir = new java.io.File(s"$state/corpus_docs")
    def nFiles = dir.listFiles().count(_.getName.endsWith(".parquet"))
    val fragmented = nFiles
    assert(fragmented > 3, s"appends should fragment the table, got $fragmented files")
    val rowsBefore = spark.read.parquet(dir.toString)
      .collect().map(_.toSeq).toSet
    StreamingCuration.maybeCompactCorpus(spark, state, maxFiles = 2)
    assert(nFiles < fragmented, "compaction must reduce the file count")
    val rowsAfter = spark.read.parquet(dir.toString)
      .collect().map(_.toSeq).toSet
    assert(rowsAfter == rowsBefore, "compaction must preserve the corpus exactly")
    // the pipeline still dedups exactly against the compacted corpus:
    // re-delivering already-accepted docs accepts nothing new
    val before = spark.read.parquet(dir.toString).count()
    StreamingCuration.processBatch(spark,
      docs.filter(pmod($"doc_id", lit(6)) === 0).select($"doc_id", $"text"),
      state)
    assert(spark.read.parquet(dir.toString).count() == before,
      "re-delivered docs must still be rejected after compaction")
  }

  test("incremental window-freq state: state-driven span removal equals the batch operator") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-winfreq").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    // disjoint batches (each doc arrives once — the dedup-gate invariant)
    (0 until 3).foreach { i =>
      StreamingCuration.mergeWindowFreq(spark, state,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
    val got = StreamingCuration.exactSubstrAgainstState(spark, state, docs)
      .collect().map(key).toSeq
    val want = graft.ops.Curation.taExactSubstr(spark, sfDir)
      .collect().map(key).toSeq
    assert(got == want,
      "accumulated window counts must reproduce the batch span removal exactly")
    assert(want.exists(_._4 > 0L), "the corpus must exercise removal")
    // a FUTURE batch scored against state sees only PAST duplication:
    // a fresh doc repeating an already-frequent passage is stripped
    val dupText = docs.filter($"doc_id" === 0L)
      .select($"text").head().getString(0)
    val probe = Seq((100000L, dupText)).toDF("doc_id", "text")
    val scored = StreamingCuration.exactSubstrAgainstState(spark, state, probe)
      .collect()
    assert(scored.length == 1 && scored.head.getLong(3) > 0L,
      "a new doc repeating a corpus-frequent passage must lose those spans")
  }

  test("incremental HLL state: folded registers bit-equal the single pass; estimate sane") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-hll-state").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeDistinctSketch(spark, state,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    // re-deliver batch 0 whole: idempotent, registers must not move
    val before = graft.streaming.VersionedState
      .readTable(spark, state, "hll_regs").get.head().getAs[Array[Byte]](0)
    StreamingCuration.mergeDistinctSketch(spark, state,
      docs.filter(pmod($"doc_id", lit(3)) === 0))
    val after = graft.streaming.VersionedState
      .readTable(spark, state, "hll_regs").get.head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(before, after),
      "re-delivered documents must not inflate the sketch")
    // and the folded state equals one pass over the whole corpus
    val hll = udaf(new graft.functions.HllAggregator())
    val single = docs.select(xxhash64($"text").as("h"))
      .agg(hll($"h")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(after, single),
      "batch-folded registers must bit-equal the single-pass sketch")
    val est = StreamingCuration.distinctFromState(spark, state)
    val exact = docs.select($"text").distinct().count()
    assert(math.abs(est - exact).toDouble / exact < 0.05,
      s"estimate $est vs exact $exact")
  }

  test("incremental heavy-hitter sketch: folded state verifies to the batch answer") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-hh").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeHeavyHitterState(spark, state,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    val (n, sketch) = StreamingCuration.readHeavyHitterState(spark, state)
    assert(sketch.size <= graft.ops.TextAnalysis.HhSketchK)
    // the folded sketch keeps the mergeable guarantee over the corpus
    val exact = docs
      .select(explode(graft.ops.TextAnalysis.tokens(lower($"text"))).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("f")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == exact.values.sum, "state token total must be exact")
    val guaranteed = exact.filter {
      case (_, f) => f > n / (graft.ops.TextAnalysis.HhSketchK + 1L)
    }.keySet
    assert(guaranteed.subsetOf(sketch.keySet),
      s"sketch lost guaranteed candidates: ${guaranteed -- sketch.keySet}")
    // verify pass over the accumulated corpus == the one-shot batch op
    val got = StreamingCuration.heavyHittersFromState(spark, state, docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = graft.ops.TextAnalysis.heavyHittersOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, "state-verified heavies must equal the batch computation")
  }

  test("incremental CMS state: folded registers bit-equal the single pass; estimates one-sided") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-cms")
    val folded = work.resolve("folded").toString
    val oneShot = work.resolve("oneshot").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeCmsState(spark, folded,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    StreamingCuration.mergeCmsState(spark, oneShot, docs)
    val f = StreamingCuration.readCmsState(spark, folded)
    val o = StreamingCuration.readCmsState(spark, oneShot)
    assert(f.sameElements(o), "folded registers must bit-equal the single pass")
    // state estimates agree with the registered batch op's sketch (same
    // cells, same sums) and never under-count the exact frequency
    val exact = docs
      .select(explode(graft.ops.TextAnalysis.tokens(lower($"text"))).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("f")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchRows = graft.ops.TextAnalysis
      .cmsFreqOf(docs, graft.ops.TextAnalysis.CmsProbes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.ops.TextAnalysis.CmsProbes.foreach { p =>
      val est = StreamingCuration.cmsEstimateFromState(spark, folded, p)
      assert(est == batchRows(p), s"$p: state estimate must equal the batch op's")
      assert(est >= exact.getOrElse(p, 0L), s"$p: CMS must never under-count")
    }
    // total register mass per row is the exact token total
    val n = exact.values.sum
    val width = graft.functions.CountMinAggregator.DefaultWidth
    (0 until graft.functions.CountMinAggregator.DefaultDepth).foreach { r =>
      assert((0 until width).map(c => f(r * width + c)).sum == n)
    }
  }

  test("incremental norm-hist state: folded bands == one-shot histogram") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-normhist")
    val folded = work.resolve("folded").toString
    val vecs = graft.Tables.t(spark, sfDir, "embeddings")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeNormHistState(spark, folded,
        vecs.filter(pmod($"vec_id", lit(3)) === i))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingCuration.normHistFromState(spark, folded)) ==
      rows(graft.ops.Similarity.simNormHist(spark, sfDir)),
      "additive band fold must equal the one-shot histogram")
  }

  test("declarative curation stream: watermarked windowed gate == batch run") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    // synthetic event time: docs land one per 2s across ~3 windows
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select(
        timestamp_micros(lit(1704067200000000L) + $"doc_id" * 2000000L)
          .as("event_ts"),
        $"source", $"text")
    val transform = StreamingCuration.declarativeCurationTransform("1 minute")
    def key(r: org.apache.spark.sql.Row) =
      (r.getStruct(0).getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
    val batch = transform(docs).collect().map(key).toSet
    assert(batch.nonEmpty && batch.exists(_._5 > 0),
      "fixture must produce windows with kept docs")

    val work = Files.createTempDirectory("graft-declcur")
    // two drops: out-of-order arrival across the file boundary
    docs.filter($"source" < "src2").write
      .parquet(work.resolve("in/b1").toString)
    docs.filter($"source" >= "src2").write
      .parquet(work.resolve("in/b2").toString)
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("event_ts TIMESTAMP, source STRING, text STRING"),
        options = Map("maxFilesPerTrigger" -> "1"),
        watermarkColumn = Some("event_ts"), watermarkDelay = Some("10 minutes")),
      sink = MemoryStreamingSink("declcur"),
      transform = transform,
      outputMode = OutputMode.Complete,
      queryName = Some("declcur"),
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(120000)
    val streamed = spark.table("declcur").collect().map(key).toSet
    assert(streamed == batch,
      "declarative stream must equal the batch run of the same transform")
  }

  test("incremental len-profile state: additive folds == one-shot percentiles") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-lenprof")
    val folded = work.resolve("folded").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeLenProfileState(spark, folded,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingCuration.lenProfileFromState(spark, folded)) ==
      rows(graft.ops.CorpusFilters.taLenProfile(spark, sfDir)),
      "folded length histogram must probe to the one-shot percentiles")
  }

  test("incremental budget curve: the max-seq-len sweep from the folded length histogram == one-shot") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-budgetcurve")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    // the twin REUSES the len_profile fold — no fold of its own
    (0 until 3).foreach { i =>
      StreamingCuration.mergeLenProfileState(spark, st,
        docs.filter(pmod($"doc_id", lit(3)) === i), batchId = i.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val oneShot = rows(graft.ops.Packing.packBudgetCurve(spark, sfDir))
    assert(oneShot.exists(_(3).asInstanceOf[Long] > 0L),
      "fixture must carry token mass")
    assert(rows(StreamingCuration.budgetCurveFromState(spark, st)) == oneShot,
      "histogram-served sweep must equal the one-shot per-doc pass")
  }

  test("incremental manifest state: any-order folds == one-shot manifest") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-manifest")
    val folded = work.resolve("folded").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    // deliberately NOT doc_id order — xor/sum folds are order-free
    Seq(2, 0, 1).foreach { i =>
      StreamingCuration.mergeManifestState(spark, folded,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingCuration.manifestFromState(spark, folded)) ==
      rows(graft.queries.QualityQueries.dqManifest(spark, sfDir)),
      "out-of-order manifest fold must equal the one-shot manifest")
  }

  test("incremental filter-ablation state: additive folds == one-shot ablation table") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-ablation")
    val folded = work.resolve("folded").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeFilterAblationState(spark, folded,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingCuration.filterAblationFromState(spark, folded)) ==
      rows(graft.ops.TextAnalysis.filterAblationOf(docs)),
      "additive counter fold must equal the one-shot ablation table")
    // the planted corpus exercises the counters: something fails a rule
    val any = StreamingCuration.filterAblationFromState(spark, folded)
      .filter($"rule" === "any").select($"n_fail").collect().head.getLong(0)
    assert(any > 0, "expected at least one rule failure in the corpus")
  }

  test("incremental vocab-growth state: doc_id-ordered folds == one-shot Heaps curve") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-vocab")
    val folded = work.resolve("folded").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    // arrival order == doc_id order: three contiguous id slices
    val n = docs.count()
    val cuts = Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, n + 1))
    cuts.foreach { case (lo, hi) =>
      StreamingCuration.mergeVocabGrowthState(spark, folded,
        docs.filter($"doc_id" >= lo && $"doc_id" < hi))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingCuration.heapsCurveFromState(spark, folded)) ==
      rows(graft.ops.CorpusFilters.heapsCurveOf(docs)),
      "streamed Heaps curve must equal the one-shot batch op")
  }

  test("incremental token-count state: simpson and TVD from state == batch ops") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-tokcnt")
    val folded = work.resolve("folded").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeTokenCountState(spark, folded,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingCuration.simpsonFromState(spark, folded)) ==
      rows(graft.ops.CorpusFilters.simpsonDiversityOf(docs)),
      "folded simpson must equal the one-shot batch op")
    assert(rows(StreamingCuration.divergenceFromState(spark, folded)) ==
      rows(graft.ops.CorpusFilters.sourceDivergenceOf(docs)),
      "folded TVD must equal the one-shot batch op")
  }

  test("incremental bucket-waste state: folded report == batch op exactly") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-waste")
    val folded = work.resolve("folded").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeBucketWasteState(spark, folded,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    val got = StreamingCuration.bucketWasteFromState(spark, folded)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
    val want = graft.ops.Packing.packBucketWasteOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == want.toSeq,
      "additive fold over disjoint batches must equal the one-shot report")
  }

  test("incremental KMV state: folded sketch == one-shot; estimate exact below k") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-kmv")
    val folded = work.resolve("folded").toString
    val oneShot = work.resolve("oneshot").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      // overlapping slices: re-seen keys must not perturb the sketch
      StreamingCuration.mergeKmvState(spark, folded,
        docs.filter(pmod($"doc_id", lit(2)) === (i % 2)), "doc_id")
    }
    StreamingCuration.mergeKmvState(spark, oneShot, docs, "doc_id")
    def sk(dir: String) = graft.streaming.VersionedState
      .readTable(spark, dir, "kmv_doc_id").get
      .collect().map(_.getString(0)).sorted.toSeq
    assert(sk(folded) == sk(oneShot),
      "k-min merge must equal the one-shot sketch exactly")
    // 500 distinct ids >= k=64 → real estimate, within ~3 sigma
    val est = StreamingCuration.kmvEstimateFromState(spark, folded, "doc_id")
    assert(math.abs(est - 500.0) / 500.0 < 3.0 / math.sqrt(62),
      s"estimate $est too far from 500")
    // sub-k state: exact
    val small = work.resolve("small").toString
    StreamingCuration.mergeKmvState(spark, small,
      docs.filter($"doc_id" < 10), "doc_id")
    assert(StreamingCuration.kmvEstimateFromState(spark, small, "doc_id") == 10.0)
  }

  test("incremental key-count state: folded counts exact; skew audit == batch") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-skew")
    val folded = work.resolve("folded").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeKeyCountState(spark, folded,
        docs.filter(pmod($"doc_id", lit(3)) === i), "source")
    }
    val stateCounts = graft.streaming.VersionedState
      .readTable(spark, folded, "key_counts_source").get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = docs.groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stateCounts == want, "folded per-key counts must be exact")
    val fromState = StreamingCuration.skewFromState(spark, folded, "source")
      .collect().map(_.toSeq.drop(1)) // drop the label column
    val batch = graft.queries.QualityQueries
      .keySkew(docs, "source", "stream.source")
      .collect().map(_.toSeq.drop(1))
    assert(fromState.toSeq == batch.toSeq,
      "state skew audit must equal the batch audit")
  }

  test("incremental quantile-sketch state: folded == one-shot; estimates bracket exact ranks") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-qsk")
    val folded = work.resolve("folded").toString
    val oneShot = work.resolve("oneshot").toString
    val li = graft.Tables.t(spark, sfDir, "lineitem")
      .select($"l_extendedprice".as("value"))
    (0 until 3).foreach { i =>
      StreamingCuration.mergeQuantileState(spark, folded,
        li.filter(pmod($"value".cast("long"), lit(3)) === i))
    }
    StreamingCuration.mergeQuantileState(spark, oneShot, li)
    def buckets(dir: String) =
      graft.streaming.VersionedState
        .readTable(spark, dir, "quantile_buckets").get.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(buckets(folded) == buckets(oneShot),
      "folded bucket counts must equal the single-pass sketch exactly")
    // every bucket honors the <=10% relative-width certificate
    buckets(folded).foreach { case (lo, w, _) =>
      assert(w == 1 || w * 10 <= lo, s"bucket $lo width $w exceeds 10%")
    }
    // state estimates == the registered batch query, and each bracket
    // contains the TRUE rank value from a naive sorted replay
    val got = StreamingCuration.quantilesFromState(spark, folded).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val batch = graft.queries.QualityQueries.dqQuantileSketch(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == batch.toSeq,
      "state quantiles must equal the batch sketch query")
    val exactSorted = li.collect().map(r => math.floor(r.getDouble(0)).toLong)
      .filter(_ >= 1L).sorted
    got.foreach { case (p, n2, target, lo, hi) =>
      assert(n2 == exactSorted.length)
      assert(target == (p * n2 + 99) / 100)
      val truth = exactSorted(target.toInt - 1)
      assert(lo <= truth && truth < hi,
        s"p$p: true rank-$target value $truth outside [$lo, $hi)")
    }
  }

  test("incremental BM25 stats: folded state reproduces the batch scores bit-exactly") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-bm25").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    (0 until 3).foreach { i =>
      StreamingCuration.mergeBm25State(spark, state,
        docs.filter(pmod($"doc_id", lit(3)) === i))
    }
    // folded scalars equal the one-shot corpus stats
    val (nd, tt) = StreamingCuration.readBm25Scalars(spark, state)
    val toks = docs.select($"doc_id",
      explode(graft.ops.TextAnalysis.tokens(lower($"text"))).as("t"))
    val wantRow = toks.agg(countDistinct($"doc_id"), count(lit(1))).head()
    assert(nd == wantRow.getLong(0) && tt == wantRow.getLong(1))
    // scoring a probe against the state == the one-shot batch op, for a
    // rare and a common query
    Seq("dup window", "scan column order").foreach { q =>
      val got = StreamingCuration.bm25FromState(spark, state, docs, q, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val want = graft.ops.TextAnalysis.bm25Of(docs, q, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == want, s"state-scored '$q' must equal the batch op")
    }
    // unseen query terms score zero but don't crash (df = 0 path)
    assert(StreamingCuration
      .bm25FromState(spark, state, docs, "zzznotoken", 5).count() == 5L)
  }

  test("incremental novelty state: per-batch scores concatenate to the one-shot batch answer") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-novelty").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    // ascending-id batches (the streaming contract): thirds by id range
    val ids = docs.select(max($"doc_id")).head.getLong(0)
    val bounds = Seq(0L, ids / 3, 2 * ids / 3, ids + 1)
    val perBatch = (0 until 3).map { i =>
      val b = docs.filter($"doc_id" >= bounds(i) && $"doc_id" < bounds(i + 1))
      // score BEFORE folding (the state must describe only PRIOR batches)
      val scored = StreamingCuration.noveltyFromState(spark, state, b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      StreamingCuration.mergeNoveltyState(spark, state, b)
      scored
    }
    val got = perBatch.flatten.sortBy(_._1).toSeq
    val want = graft.ops.TextAnalysis.noveltyOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got == want, "per-batch novelty must equal the one-shot batch operator")
    // idempotence: re-folding the last batch cannot change the state
    val before = StreamingCuration.noveltyFromState(spark, state,
      docs.filter($"doc_id" >= bounds(2))).collect().map(_.toSeq).toSeq
    StreamingCuration.mergeNoveltyState(spark, state,
      docs.filter($"doc_id" >= bounds(2)))
    val after = StreamingCuration.noveltyFromState(spark, state,
      docs.filter($"doc_id" >= bounds(2))).collect().map(_.toSeq).toSeq
    assert(before == after, "min-merge must be idempotent to re-delivery")
  }

  test("incremental paragraph-dedup state: per-batch results concatenate to the one-shot batch answer") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-paradedup").resolve("s").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    val ids = docs.select(max($"doc_id")).head.getLong(0)
    val bounds = Seq(0L, ids / 3, 2 * ids / 3, ids + 1)
    val perBatch = (0 until 3).map { i =>
      val b = docs.filter($"doc_id" >= bounds(i) && $"doc_id" < bounds(i + 1))
      // score BEFORE folding (the state must describe only PRIOR batches)
      val scored = StreamingCuration.paraDedupFromState(spark, state, b)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getDouble(4)))
      StreamingCuration.mergeParaState(spark, state, b)
      scored
    }
    val got = perBatch.flatten.sortBy(_._1).toSeq
    val want = graft.ops.CorpusFilters.paragraphDedupOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
      .sortBy(_._1).toSeq
    assert(got == want,
      "per-batch paragraph dedup must equal the one-shot batch operator")
    // idempotence: re-folding the last batch cannot change the state
    val lastB = docs.filter($"doc_id" >= bounds(2))
    val before = StreamingCuration.paraDedupFromState(spark, state, lastB)
      .collect().map(_.toSeq).toSeq
    StreamingCuration.mergeParaState(spark, state, lastB)
    val after = StreamingCuration.paraDedupFromState(spark, state, lastB)
      .collect().map(_.toSeq).toSeq
    assert(before == after, "struct-min merge must be idempotent to re-delivery")
  }

  test("streaming IVF ingestion: micro-batches append against the frozen quantizer") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sfd = sfDir
    val work = Files.createTempDirectory("graft-ivf-stream")
    val index = work.resolve("index").toString
    graft.ops.Similarity.writeIvfIndex(spark, sfd, index)
    val before = spark.read.parquet(s"$index/codes").count()

    // two micro-batches of new vectors (twins of existing top-k
    // candidates, ids offset) land via the streaming path
    val brute = graft.ops.Similarity.simBruteTopK(spark, sfd)
      .select($"cand_id").distinct().limit(6)
      .collect().map(_.getLong(0))
    val all = graft.Tables.t(spark, sfd, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val newVecs = all.filter($"vec_id".isInCollection(brute))
      .select(($"vec_id" + 500000L).as("vec_id"), $"e")
    newVecs.filter($"vec_id" % 2 === 0).write
      .parquet(work.resolve("in/b1").toString)
    newVecs.filter($"vec_id" % 2 =!= 0).write
      .parquet(work.resolve("in/b2").toString)
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("vec_id LONG, e ARRAY<DOUBLE>")),
      sink = ForeachBatchSink { (batch, _) =>
        if (!batch.isEmpty)
          graft.ops.Similarity.appendIvfBatch(batch.sparkSession, index, batch)
        ()
      },
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)

    assert(spark.read.parquet(s"$index/codes").count() == before + newVecs.count())
    // exhaustive search from the grown index == brute force over the union
    graft.functions.GraftFunctions.register(spark)
    val k = new java.io.File(s"$index/codes").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cent_id="))
    val got = graft.ops.Similarity.searchIvfIndex(spark, sfd, index, nprobe = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val union = all.union(newVecs)
    val qv = union.filter($"vec_id" < graft.ops.Similarity.NumQueries)
      .select($"vec_id".as("query_id"), $"e".as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"cand_id".asc)
    val expected = union.select($"vec_id".as("cand_id"), $"e")
      .join(broadcast(qv), $"query_id" =!= $"cand_id")
      .select($"query_id", $"cand_id",
        call_function("cosine_sim", $"qe", $"e").as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= graft.ops.Similarity.TopK)
      .select($"query_id", $"rk", $"cand_id", $"cos")
      .orderBy("query_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected.toSeq)
    assert(got.exists(_._3 >= 500000L), "a streamed twin reaches the top-k")
  }

  test("streaming kNN-graph ingestion: micro-batches append; twins adopted in both directions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft-knn-stream")
    val index = work.resolve("index").toString
    val all = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    graft.ops.Similarity.writeKnnGraphOf(all, index, rounds = 1)
    val beforeVecs = spark.read.parquet(s"$index/vecs").count()
    // twins of ids 0..5 — tiny source ids sit INSIDE the id-ordered
    // bucket cap, so every twin is guaranteed its mate pair
    val newVecs = all.filter($"vec_id" < 6)
      .select(($"vec_id" + 500000L).as("vec_id"), $"e")
    newVecs.filter($"vec_id" % 2 === 0).write
      .parquet(work.resolve("in/b1").toString)
    newVecs.filter($"vec_id" % 2 =!= 0).write
      .parquet(work.resolve("in/b2").toString)
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("vec_id LONG, e ARRAY<DOUBLE>")),
      sink = ForeachBatchSink { (batch, _) =>
        if (!batch.isEmpty)
          graft.ops.Similarity.appendKnnBatch(batch.sparkSession, index, batch)
        ()
      },
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$index/vecs").count() == beforeVecs + 6)
    val nb = graft.ops.Similarity.knnNeighbors(spark, index).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    (0L until 6L).foreach { v =>
      val twinTop = nb.filter(_._1 == v + 500000L).minBy(_._2)
      assert(twinTop._3 == v && twinTop._4 >= 0.999999,
        s"streamed twin of $v must find its source: $twinTop")
      val srcTop = nb.filter(_._1 == v).minBy(_._2)
      assert(srcTop._3 == v + 500000L && srcTop._4 >= 0.999999,
        s"node $v must adopt its streamed twin: $srcTop")
    }
    // maintenance compaction after the stream preserves the view
    graft.ops.Similarity.compactKnnGraph(spark, index)
    val after = graft.ops.Similarity.knnNeighbors(spark, index).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(after.toSet == nb.toSet)
  }

  test("incremental boilerplate: frequency state accumulates; cross-batch repeats strip") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-bp-inc").resolve("s").toString
    val header = (1 to 8).map(i => s"shared$i").mkString(" ")
    def body(tag: String) = (1 to 16).map(i => s"$tag$i").mkString(" ")
    // batch 1: two docs sharing an 8-token header chunk + one unique doc
    val b1 = Seq(
      (1L, s"$header ${body("alpha")}"),
      (2L, s"$header ${body("beta")}"),
      (3L, body("gamma")))
    StreamingCuration.processBatch(spark, b1.toDF("doc_id", "text"), state)
    // batch 2: a third doc carrying the same header
    val b2 = Seq((10L, s"$header ${body("delta")}"))
    StreamingCuration.processBatch(spark, b2.toDF("doc_id", "text"), state)

    // state invariant: chunk_freq == distinct-doc chunk counts over ALL
    // accepted docs (batches add, never overwrite-lose)
    val accepted = (b1 ++ b2).toDF("doc_id", "text")
    val expected = graft.ops.Curation.distinctChunkHashes(accepted)
      .groupBy($"h").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stored = graft.streaming.VersionedState
      .readTable(spark, state, "chunk_freq").get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stored == expected, "chunk_freq must equal batch-side counts")

    // a new probe doc repeating the header gets it stripped against the
    // ACCUMULATED state (nd=3 across two batches); its novel chunks stay
    val probe = Seq((99L, s"$header ${body("omega")}")).toDF("doc_id", "text")
    val scored = StreamingCuration.boilerplateAgainstState(spark, state, probe)
      .collect().head
    assert(scored.getLong(1) == 3L && scored.getLong(2) == 1L,
      s"header chunk should strip, novel chunks survive: $scored")
    // cross-check: same answer as batch boilerplate over corpus+probe,
    // restricted to the probe doc
    val batchForm = graft.ops.Curation
      .boilerplateOf(accepted.unionByName(probe))
      .filter($"doc_id" === 99L).collect().head
    assert(scored.getLong(2) == batchForm.getLong(2) &&
      scored.getString(3) == batchForm.getString(3),
      "incremental flagging must agree with the batch two-pass on the probe")
    // budget switch parity on the state form: broadcastBudget = 0 forces
    // the distributed join plan against the stored chunk_freq table —
    // same rows as the broadcast-kernel default
    val scoredJoin = StreamingCuration
      .boilerplateAgainstState(spark, state, probe, broadcastBudget = 0)
      .collect().head
    assert(scoredJoin == scored,
      "state-form join path must equal the kernel path")
  }

  test("processBatch invariant: state appends equal the pre-write computed sets") {
    // Guards the lazy re-read-after-append class: a plan that reads a
    // state path must be materialized before ANY append to that path, or
    // the second write re-evaluates against the batch's own output (the
    // refreshByPath cache invalidation makes even .cache() insufficient).
    import spark.implicits._
    import graft.examples.StreamingCuration
    val state = Files.createTempDirectory("graft-pb").resolve("s").toString
    def invariant(expectedIds: Set[Long]): Unit = {
      val docs = spark.read.parquet(s"$state/corpus_docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val sets = spark.read.parquet(s"$state/corpus_sets")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(docs == expectedIds, s"corpus_docs: $docs != $expectedIds")
      assert(sets == expectedIds, s"corpus_sets must cover every accepted doc: $sets != $expectedIds")
    }
    val n1 = StreamingCuration.processBatch(spark,
      Seq((1L, "first document with plenty of ordinary tokens for the quality gate to accept"),
        (2L, "second document also long enough and completely unlike the first one here"))
        .toDF("doc_id", "text"), state)
    assert(n1 == 2)
    invariant(Set(1L, 2L))
    // second batch against EXISTING state — the bug only fired here
    val n2 = StreamingCuration.processBatch(spark,
      Seq((3L, "a third novel document whose content shares nothing with previous batches at all"))
        .toDF("doc_id", "text"), state)
    assert(n2 == 3) // post-append corpus size
    invariant(Set(1L, 2L, 3L))
  }

  test("stream-stream join with watermarks matches the batch join") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-ssjoin")
    val impressions = Seq(
      ("2024-01-01 00:00:05", 1L, "ad_a"), ("2024-01-01 00:00:20", 2L, "ad_b"),
      ("2024-01-01 00:01:00", 3L, "ad_c"))
      .toDF("ts_s", "id", "ad")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS i_ts", "id", "ad")
    val clicks = Seq(
      ("2024-01-01 00:00:30", 1L), ("2024-01-01 00:01:10", 3L),
      ("2024-01-01 00:09:00", 9L)) // no matching impression
      .toDF("ts_s", "id")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS c_ts", "id")
    impressions.write.parquet(work.resolve("imp/b1").toString)
    clicks.write.parquet(work.resolve("clk/b1").toString)

    // batch truth: click within 2 minutes after its impression
    val cond = "i.id = c.id AND c_ts >= i_ts AND c_ts <= i_ts + INTERVAL 2 MINUTES"
    impressions.as("i").createOrReplaceTempView("ss_imp_b")
    clicks.as("c").createOrReplaceTempView("ss_clk_b")
    val batch = spark.sql(
      s"SELECT i.id, ad FROM ss_imp_b i JOIN ss_clk_b c ON $cond")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch == Set((1L, "ad_a"), (3L, "ad_c")))

    // same join as stream-stream (both sides watermarked; inner join
    // with a time-bound condition so state is evictable)
    val si = spark.readStream
      .schema("i_ts TIMESTAMP, id LONG, ad STRING")
      .parquet(work.resolve("imp").toString + "/*")
      .withWatermark("i_ts", "10 minutes").as("i")
    val sc = spark.readStream
      .schema("c_ts TIMESTAMP, id LONG")
      .parquet(work.resolve("clk").toString + "/*")
      .withWatermark("c_ts", "10 minutes").as("c")
    val q = si.join(sc, expr(cond))
      .selectExpr("i.id", "ad")
      .writeStream.format("memory").queryName("ss_joined")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("ss_joined")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch, "stream-stream join must match batch join")
  }

  test("stream-batch parity: windowed aggregation over the events table") {
    import spark.implicits._
    // batch truth
    val batch = graft.Tables.t(spark, sfDir, "events")
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH").as("hour"),
        $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").cast("decimal(18,4)").as("sv"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDecimal(3)))).toMap

    // same aggregation through Structured Streaming (availableNow; the
    // file source needs a directory, so stage the single parquet file;
    // ts normalizes to session-zoned TimestampType exactly like
    // Tables.t does — the raw encoding differs across testdata
    // generations: INT64 nanos read as LONG vs TIMESTAMP_NTZ micros —
    // so probe the file's actual type and declare the matching schema)
    val streamDir = Files.createTempDirectory("graft-parity")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val rawIsLong = spark.read.parquet(s"$sfDir/events.parquet")
      .schema("ts").dataType == org.apache.spark.sql.types.LongType
    val (tsDdl, normalize): (String, DataFrame => DataFrame) =
      if (rawIsLong)
        ("ts LONG",
          df => df.withColumn("ts", timestamp_micros(expr("CAST(ts DIV 1000 AS LONG)"))))
      else
        ("ts TIMESTAMP_NTZ",
          df => df.withColumn("ts", col("ts").cast("timestamp")))
    val q = new StreamingPipeline(
      source = FileStreamingSource(streamDir.toString,
        schemaDdl = Some(s"event_id LONG, $tsDdl, user_id LONG, event_type STRING, value DOUBLE, props STRING")),
      sink = MemoryStreamingSink("events_hourly_stream"),
      transform = df => normalize(df)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).cast("decimal(18,4)").as("sv")),
      outputMode = OutputMode.Complete,
      queryName = Some("events_hourly_stream"),
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(120000)

    val streamed = spark.table("events_hourly_stream").collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDecimal(3)))).toMap
    assert(streamed == batch, "incremental plan must agree with the batch plan")
  }

  test("trigger config validation") {
    intercept[IllegalArgumentException](TriggerConfig.ProcessingTime(" "))
    intercept[IllegalArgumentException](TriggerConfig.Continuous(""))
    assert(TriggerConfig.AvailableNow.toSpark != null)
    assert(TriggerConfig.Once.toSpark != null)
  }

  test("replayed micro-batch is a no-op for EVERY count-based state (VERDICT r9 #1)") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-replay")
    val once = work.resolve("once").toString
    val twice = work.resolve("twice").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" < 90).localCheckpoint(true)
    val vecs = graft.Tables.t(spark, sfDir, "embeddings")
      .filter($"vec_id" < 60).localCheckpoint(true)
    val batches = Seq(
      (0L, docs.filter(pmod($"doc_id", lit(2)) === 0),
        vecs.filter(pmod($"vec_id", lit(2)) === 0)),
      (1L, docs.filter(pmod($"doc_id", lit(2)) === 1),
        vecs.filter(pmod($"vec_id", lit(2)) === 1)))
    // every watermark-gated fold, at its managed batchId
    def foldAll(dir: String, id: Long, b: org.apache.spark.sql.DataFrame,
        v: org.apache.spark.sql.DataFrame): Unit = {
      StreamingCuration.mergeProfileState(spark, dir, b, id)
      StreamingCuration.mergeCmsState(spark, dir, b, id)
      StreamingCuration.mergeQuantileState(spark, dir,
        b.select(graft.ops.TextAnalysis.tokenCount($"text")
          .cast("double").as("value")), id)
      StreamingCuration.mergeKeyCountState(spark, dir, b, "source", id)
      StreamingCuration.mergeKmvState(spark, dir, b, "doc_id", id)
      StreamingCuration.mergeBucketWasteState(spark, dir, b, id)
      StreamingCuration.mergeTokenCountState(spark, dir, b, id)
      StreamingCuration.mergeVocabGrowthState(spark, dir, b, id)
      StreamingCuration.mergeNormHistState(spark, dir, v, id)
      StreamingCuration.mergeLenProfileState(spark, dir, b, id)
      StreamingCuration.mergeManifestState(spark, dir, b, id)
      StreamingCuration.mergeFilterAblationState(spark, dir, b, id)
      StreamingCuration.mergeBm25State(spark, dir, b, id)
      StreamingCuration.mergeHeavyHitterState(spark, dir, b, id)
      StreamingCuration.mergeDistinctSketch(spark, dir, b, id)
      StreamingCuration.mergeChunkFreq(spark, dir,
        graft.ops.Curation.distinctChunkHashes(b.select($"doc_id", $"text")), id)
      StreamingCuration.mergeWindowFreq(spark, dir, b, batchId = id)
      StreamingCuration.mergeMixState(spark, dir, b, batchId = id)
      ()
    }
    batches.foreach { case (id, b, v) => foldAll(once, id, b, v) }
    batches.foreach { case (id, b, v) => foldAll(twice, id, b, v) }
    // the at-least-once hazard: the LAST micro-batch is redelivered
    val (rid, rb, rv) = batches.last
    foldAll(twice, rid, rb, rv)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    def table(dir: String, name: String, tbl: String = "data") =
      rows(graft.streaming.VersionedState.readTable(spark, dir, name, tbl).get
        .orderBy(graft.streaming.VersionedState.readTable(spark, dir, name, tbl)
          .get.columns.map(col): _*))
    // every reader must be bit-identical to the fold-once state — the
    // additive counters would inflate and the manifest xor would
    // CANCEL if the replay folded
    assert(rows(StreamingCuration.profileFromState(spark, twice)) ==
      rows(StreamingCuration.profileFromState(spark, once)), "profile")
    assert(StreamingCuration.readCmsState(spark, twice).toSeq ==
      StreamingCuration.readCmsState(spark, once).toSeq, "cms")
    assert(rows(StreamingCuration.quantilesFromState(spark, twice)) ==
      rows(StreamingCuration.quantilesFromState(spark, once)), "quantiles")
    assert(rows(StreamingCuration.skewFromState(spark, twice, "source")) ==
      rows(StreamingCuration.skewFromState(spark, once, "source")), "skew")
    assert(StreamingCuration.kmvEstimateFromState(spark, twice, "doc_id") ==
      StreamingCuration.kmvEstimateFromState(spark, once, "doc_id"), "kmv")
    assert(rows(StreamingCuration.bucketWasteFromState(spark, twice)) ==
      rows(StreamingCuration.bucketWasteFromState(spark, once)), "bucket waste")
    assert(rows(StreamingCuration.simpsonFromState(spark, twice)) ==
      rows(StreamingCuration.simpsonFromState(spark, once)), "simpson")
    assert(rows(StreamingCuration.divergenceFromState(spark, twice)) ==
      rows(StreamingCuration.divergenceFromState(spark, once)), "divergence")
    assert(rows(StreamingCuration.heapsCurveFromState(spark, twice)) ==
      rows(StreamingCuration.heapsCurveFromState(spark, once)), "heaps")
    assert(rows(StreamingCuration.normHistFromState(spark, twice)) ==
      rows(StreamingCuration.normHistFromState(spark, once)), "norm hist")
    assert(rows(StreamingCuration.lenProfileFromState(spark, twice)) ==
      rows(StreamingCuration.lenProfileFromState(spark, once)), "len profile")
    assert(rows(StreamingCuration.manifestFromState(spark, twice)) ==
      rows(StreamingCuration.manifestFromState(spark, once)), "manifest")
    assert(rows(StreamingCuration.filterAblationFromState(spark, twice)) ==
      rows(StreamingCuration.filterAblationFromState(spark, once)), "ablation")
    assert(StreamingCuration.readBm25Scalars(spark, twice) ==
      StreamingCuration.readBm25Scalars(spark, once), "bm25 scalars")
    assert(table(twice, "bm25", "df") == table(once, "bm25", "df"), "bm25 df")
    assert(StreamingCuration.readHeavyHitterState(spark, twice) ==
      StreamingCuration.readHeavyHitterState(spark, once), "heavy hitters")
    assert(StreamingCuration.distinctFromState(spark, twice) ==
      StreamingCuration.distinctFromState(spark, once), "hll")
    assert(table(twice, "chunk_freq") == table(once, "chunk_freq"), "chunk freq")
    assert(table(twice, "window_freq") == table(once, "window_freq"), "window freq")
    assert(rows(StreamingCuration.mixFromState(spark, twice)) ==
      rows(StreamingCuration.mixFromState(spark, once)), "mix")
    // and the replayed mix call returns exactly the batch's admitted rows
    val replaySel = rows(StreamingCuration.mergeMixState(spark, twice, rb, batchId = rid)
      .orderBy($"source", $"cum_tokens"))
    val onceSel = rows(StreamingCuration.mixFromState(spark, once)
      .filter($"doc_id".isin(rb.select($"doc_id").as[Long].collect().toSeq: _*))
      .orderBy($"source", $"cum_tokens"))
    assert(replaySel == onceSel, "replayed mix must return the already-admitted rows")
  }

  test("crashed fold leaves the previous committed state fully readable (ADVICE r9 #4)") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    import graft.streaming.VersionedState
    val work = Files.createTempDirectory("graft-crash")
    val state = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents").filter($"doc_id" < 40)
    StreamingCuration.mergeLenProfileState(spark, state, docs, batchId = 0L)
    val committed = StreamingCuration.lenProfileFromState(spark, state)
      .collect().map(_.toSeq).toSeq
    // simulate a crash MID-fold: payload written, meta (commit marker)
    // never reached — the exact failure the overwrite-in-place pattern
    // turned into total state loss
    spark.range(5).toDF("garbage").write
      .parquet(s"$state/len_profile_v2/data")
    assert(StreamingCuration.lenProfileFromState(spark, state)
      .collect().map(_.toSeq).toSeq == committed,
      "uncommitted partial version must be invisible to readers")
    assert(VersionedState.watermark(spark, state, "len_profile") == 0L)
    // the next fold retries INTO the same version slot (overwriting the
    // partial files) and commits cleanly on top of v1
    val more = graft.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" >= 40 && $"doc_id" < 80)
    StreamingCuration.mergeLenProfileState(spark, state, more, batchId = 1L)
    val all = graft.Tables.t(spark, sfDir, "documents").filter($"doc_id" < 80)
    assert(StreamingCuration.lenProfileFromState(spark, state)
      .collect().map(_.toSeq).toSeq ==
      graft.ops.CorpusFilters.lenProfileOfCounts(
        all.select($"source", graft.ops.TextAnalysis.tokenCount($"text").as("len"))
          .groupBy($"source", $"len").agg(count(lit(1)).as("c")))
        .collect().map(_.toSeq).toSeq,
      "recovery fold must produce the exact two-batch state")
    assert(VersionedState.watermark(spark, state, "len_profile") == 1L)
  }

  test("incremental daily-volume state: any-order folds == one-shot dyadic EWMA") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-ewma")
    val folded = work.resolve("folded").toString
    val ev = graft.Tables.t(spark, sfDir, "events")
    // EWMA depends only on per-day totals, which add order-free — so
    // ANY slicing of the stream folds to the one-shot monitor
    Seq(2, 0, 1).foreach { i =>
      StreamingCuration.mergeDailyVolumeState(spark, folded,
        ev.filter(pmod($"event_id", lit(3)) === i), batchId = i.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingCuration.ewmaFromState(spark, folded)) ==
      rows(graft.queries.QualityQueries.dqEwmaDyadic(spark, sfDir)),
      "streamed EWMA monitor must equal the one-shot batch op")
    // replay of the last batch id is a no-op (count-based state)
    StreamingCuration.mergeDailyVolumeState(spark, folded,
      ev.filter(pmod($"event_id", lit(3)) === 1), batchId = 1L)
    assert(rows(StreamingCuration.ewmaFromState(spark, folded)) ==
      rows(graft.queries.QualityQueries.dqEwmaDyadic(spark, sfDir)),
      "redelivered batch must not inflate the daily totals")
  }

  test("EWMA epoch rotation re-anchors the exponent budget; replay window stays closed") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-ewma-rotate")
    val st = work.resolve("state").toString
    val ev = graft.Tables.t(spark, sfDir, "events")
    val early = ev.filter($"event_id" % 2 === 0)
    val late = ev.filter($"event_id" % 2 === 1)
    StreamingCuration.mergeDailyVolumeState(spark, st, early, batchId = 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // rotate: the state empties, the monitor re-anchors t=1
    StreamingCuration.rotateDailyVolumeEpoch(spark, st)
    assert(rows(StreamingCuration.ewmaFromState(spark, st)).isEmpty,
      "rotated epoch starts empty")
    // a PRE-rotation batch redelivered after the rotation must still be
    // a no-op — rotation never re-opens the replay window
    StreamingCuration.mergeDailyVolumeState(spark, st, early, batchId = 0L)
    assert(rows(StreamingCuration.ewmaFromState(spark, st)).isEmpty,
      "pre-rotation replay must stay watermark-gated")
    // post-rotation folds rebuild the monitor over the new epoch only
    StreamingCuration.mergeDailyVolumeState(spark, st, late, batchId = 1L)
    assert(rows(StreamingCuration.ewmaFromState(spark, st)) ==
      rows(graft.queries.QualityQueries.ewmaDyadicOf(
        late.groupBy($"ts".cast("date").as("day"))
          .agg(count(lit(1)).as("n_events")))),
      "re-anchored monitor == one-shot over the post-rotation days")
  }

  test("incremental BPE vocabulary state: out-of-order folds + retrain-from-state == one-shot trainer") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-bpestate")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents").filter($"doc_id" < 150)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // token-frequency counts add in any order — fold thirds shuffled
    Seq(2, 0, 1).foreach { i =>
      StreamingCuration.mergeTokenFreqState(spark, st,
        docs.filter(pmod($"doc_id", lit(3)) === i), batchId = i.toLong)
    }
    val oneShot = rows(graft.ops.TextAnalysis.bpeTrainOf(docs, 12))
    assert(oneShot.nonEmpty)
    assert(rows(StreamingCuration.bpeTrainFromState(spark, st, 12)) == oneShot,
      "retrain from folded vocabulary must equal the one-shot trainer")
    // replay: watermark-gated no-op, counts must not double
    StreamingCuration.mergeTokenFreqState(spark, st,
      docs.filter(pmod($"doc_id", lit(3)) === 0), batchId = 0L)
    assert(rows(StreamingCuration.bpeTrainFromState(spark, st, 12)) == oneShot,
      "redelivered batch must not inflate the vocabulary")
    // the budget curve rides the same folded vocabulary (30th twin)
    val merges = graft.ops.TextAnalysis.bpeTrainOf(docs, 12)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(rows(StreamingCuration.bpeCurveFromState(spark, st, merges)) ==
      rows(graft.ops.TextAnalysis.bpeCurveOf(docs, merges)),
      "curve from folded vocabulary must equal the batch curve")
  }

  test("incremental smear-evidence state: out-of-order folds + replay + torn append == one-shot smear report") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    import graft.ops.Decontamination
    val work = Files.createTempDirectory("graft-smearstate")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val isEval = md5($"doc_id".cast("string")) >= Decontamination.EvalLower
    val evalDocs = docs.filter(isEval)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // empty state reads as the empty report (schema-stable)
    assert(rows(StreamingCuration.smearReportFromState(spark, st)).isEmpty)
    // the training corpus streams in two OUT-OF-ORDER batches; the
    // fold's anti-join excludes benchmark members, so feed the
    // UNFILTERED halves (what a real stream delivers)
    Seq(1, 0).foreach { i =>
      StreamingCuration.mergeSmearEvidenceState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === i), evalDocs,
        batchId = i.toLong)
    }
    val oneShot = rows(Decontamination.deconSmearReport(spark, sfDir))
    assert(oneShot.nonEmpty, "fixture must produce smear-report rows")
    assert(rows(StreamingCuration.smearReportFromState(spark, st)) == oneShot,
      "streamed smear report must equal the one-shot batch report")
    // replay: watermark-gated no-op
    StreamingCuration.mergeSmearEvidenceState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 0), evalDocs, batchId = 0L)
    assert(rows(StreamingCuration.smearReportFromState(spark, st)) == oneShot,
      "redelivered batch must not inflate the evidence")
    // crashed fold: the evidence append landed, the meta commit did
    // not — the (train_id, eval_id) natural key heals at read
    Decontamination.smearPairsOf(
        docs.filter(pmod($"doc_id", lit(2)) === 0)
          .join(broadcast(evalDocs.select($"doc_id").distinct()),
            Seq("doc_id"), "left_anti"),
        evalDocs)
      .write.mode("append").parquet(s"$st/smear_evidence")
    assert(rows(StreamingCuration.smearReportFromState(spark, st)) == oneShot,
      "crashed double-append must heal at read")
    // the sf corpus smears but carries no verbatim 13-gram leak, so the
    // twin's HARD path gets a planted fixture: a train doc embedding a
    // 13-word run of an eval doc, folded in two batches and compared to
    // the shared-trunk one-shot over the same docs — both classes must
    // appear (a corpus regeneration can't silently untest `hard`)
    val st2 = work.resolve("state2").toString
    val ew = (1 to 20).map(i => s"e$i")
    val planted = Seq(
      (1L, ew.mkString(" ")),                                   // eval
      (2L, "pad1 pad2 " + ew.take(13).mkString(" ") + " pad3"), // hard
      (3L, Seq(ew(0), ew(1), ew(2), "qq", ew(4), ew(5), ew(6),
        "rr", ew(8), ew(9), ew(10)).mkString(" ")),             // smeared
      (4L, (1 to 15).map(i => s"c$i").mkString(" ")))           // clean
      .toDF("doc_id", "text")
    val pEval = planted.filter($"doc_id" === 1L)
    Seq(0L, 1L).foreach { i =>
      StreamingCuration.mergeSmearEvidenceState(spark, st2,
        planted.filter(pmod($"doc_id", lit(2)) === i), pEval, batchId = i)
    }
    val plantedWant = rows(Decontamination.smearClassOf(
      Decontamination.smearPairsOf(planted.filter($"doc_id" =!= 1L), pEval)))
    val plantedGot = rows(StreamingCuration.smearReportFromState(spark, st2))
    assert(plantedGot == plantedWant,
      "planted-fixture twin must equal the shared-trunk one-shot")
    // status moved to index 5 when the char width landed (r15); the
    // scattered-trigram doc may legitimately class char_verbatim now
    // (its " e9 e10 e11" tail is an 11-char verbatim run) — the planted
    // guarantee is: the verbatim 13-run classes hard AND a non-hard
    // class is exercised alongside it
    assert(plantedGot.exists(_(5) == "hard") &&
      plantedGot.exists(r => r(5) == "smeared" || r(5) == "char_verbatim"),
      s"hard + a non-hard class must be exercised: ${plantedGot.map(_(5)).distinct}")
  }

  test("incremental LM model state: folded counts score a corpus identically to the one-shot bigram model") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-lmstate")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // the corpus streams in two OUT-OF-ORDER batches; counts are
    // additive sufficient statistics, so arrival order cannot matter
    Seq(1, 0).foreach { i =>
      StreamingCuration.mergeLmModelState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === i), batchId = i.toLong)
    }
    val oneShot = rows(graft.ops.TextAnalysis.taLmSurprisal(spark, sfDir))
    assert(oneShot.nonEmpty, "fixture must produce scored docs")
    assert(rows(StreamingCuration.lmScoreAgainstState(spark, st, docs)) ==
      oneShot, "scoring against folded state must equal the one-shot model")
    // replay: watermark-gated no-op (a double-fold would inflate every
    // count and shift every surprisal)
    StreamingCuration.mergeLmModelState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 0), batchId = 0L)
    assert(rows(StreamingCuration.lmScoreAgainstState(spark, st, docs)) ==
      oneShot, "redelivered batch must not inflate the model")
    // frozen-model OOV semantics: transitions absent from the model
    // are unscorable and drop out
    val novel = Seq((999999L, "zzqx1 zzqx2 zzqx3")).toDF("doc_id", "text")
    assert(rows(StreamingCuration.lmScoreAgainstState(spark, st, novel)).isEmpty,
      "all-novel transitions must be unscorable against the frozen model")
  }

  test("incremental trigram-LM model state: folded counts score a corpus identically to the one-shot Katz-backoff model") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-lm3state")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // two OUT-OF-ORDER batches; all three count tables are additive
    Seq(1, 0).foreach { i =>
      StreamingCuration.mergeLmTrigramModelState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === i), batchId = i.toLong)
    }
    val oneShot = rows(graft.ops.TextAnalysis.taLmTrigram(spark, sfDir))
    assert(oneShot.nonEmpty, "fixture must produce scored docs")
    assert(rows(StreamingCuration.lmTrigramScoreAgainstState(spark, st, docs))
      == oneShot, "scoring against folded state must equal the one-shot model")
    // the combined state serves the BIGRAM scorer too — one model,
    // both deployments (the delegation claim, pinned)
    assert(rows(StreamingCuration.lmScoreAgainstState(spark, st, docs)) ==
      rows(graft.ops.TextAnalysis.taLmSurprisal(spark, sfDir)),
      "the trigram fold's uni/big halves must serve the bigram scorer")
    // replay: watermark-gated no-op on all three tables
    StreamingCuration.mergeLmTrigramModelState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 0), batchId = 0L)
    assert(rows(StreamingCuration.lmTrigramScoreAgainstState(spark, st, docs))
      == oneShot, "redelivered batch must not inflate the model")
    // frozen-model semantics: an UNSEEN trigram over in-model words
    // BACKS OFF (c_t -> 0, the unreliable class) rather than dropping;
    // its doc still scores, flagged 100% backoff
    val seen = rows(StreamingCuration.lmTrigramScoreAgainstState(spark, st,
      docs.limit(1)))
    assert(seen.nonEmpty)
    val w3 = graft.ops.TextAnalysis.lmTokensOf(docs.limit(50))
      .select($"w").distinct().limit(3).collect().map(_.getString(0))
    // three in-model words glued in a (presumably) novel order: if the
    // trigram happens to be in-model the assertion below still holds
    // (n_backoff <= n_trigrams); the OOV-drop case is pinned separately
    val glued = Seq((888888L, s"${w3(0)} ${w3(1)} ${w3(2)}"))
      .toDF("doc_id", "text")
    val gluedRows = StreamingCuration
      .lmTrigramScoreAgainstState(spark, st, glued).collect()
    // scorable iff the backoff estimators exist; with in-model words
    // the (b,c) bigram may still be novel -> unscorable is acceptable,
    // but a SCORED row must carry sane backoff accounting
    gluedRows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_backoff bounded by n_trigrams")
    }
    // all-novel words: every transition's backoff estimator is
    // out-of-model -> unscorable-OOV, the frame drops entirely
    val novel = Seq((999999L, "zzqx1 zzqx2 zzqx3 zzqx4")).toDF("doc_id", "text")
    assert(rows(StreamingCuration
        .lmTrigramScoreAgainstState(spark, st, novel)).isEmpty,
      "all-novel transitions must be unscorable against the frozen model")
  }

  test("incremental KN-4-gram model state: folded counts score a corpus identically to the one-shot continuation-count model") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-lm4state")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // two OUT-OF-ORDER batches; the 4-gram count table is additive
    Seq(1, 0).foreach { i =>
      StreamingCuration.mergeLmKn4ModelState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === i), batchId = i.toLong)
    }
    val oneShot = rows(graft.ops.TextAnalysis.taLmKn4(spark, sfDir))
    assert(oneShot.nonEmpty, "fixture must produce scored docs")
    assert(rows(StreamingCuration.lmKn4ScoreAgainstState(spark, st, docs))
      == oneShot, "scoring against folded state must equal the one-shot model")
    // ONE combined state serves all three scorers (the delegation
    // chain, pinned end-to-end)
    assert(rows(StreamingCuration.lmTrigramScoreAgainstState(spark, st, docs))
      == rows(graft.ops.TextAnalysis.taLmTrigram(spark, sfDir)),
      "the kn4 fold's tri half must serve the trigram scorer")
    assert(rows(StreamingCuration.lmScoreAgainstState(spark, st, docs)) ==
      rows(graft.ops.TextAnalysis.taLmSurprisal(spark, sfDir)),
      "the kn4 fold's uni/big halves must serve the bigram scorer")
    // replay: watermark-gated no-op on all four tables
    StreamingCuration.mergeLmKn4ModelState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 0), batchId = 0L)
    assert(rows(StreamingCuration.lmKn4ScoreAgainstState(spark, st, docs))
      == oneShot, "redelivered batch must not inflate the model")
    // frozen-model ladder semantics: a novel arrangement of IN-MODEL
    // words backs off (it lacks level-0 evidence, it does not error);
    // all-novel words have no in-model d-continuation -> the frame
    // drops entirely as unscorable-OOV
    val novel = Seq((999999L, "zzqx1 zzqx2 zzqx3 zzqx4 zzqx5"))
      .toDF("doc_id", "text")
    assert(rows(StreamingCuration
        .lmKn4ScoreAgainstState(spark, st, novel)).isEmpty,
      "all-novel transitions must be unscorable against the frozen model")
  }

  test("incremental min-k cap state: any-order folds == one-shot per-source cap summary; state stays cap-bounded") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-minkcap")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // three OUT-OF-ORDER batches: min-k is a lossless mergeable
    // summary, so arrival order cannot matter
    Seq(2, 0, 1).foreach { i =>
      StreamingCuration.mergeCapPerSourceState(spark, st,
        docs.filter(pmod($"doc_id", lit(3)) === i), batchId = i.toLong)
    }
    val oneShot = rows(graft.ops.Sampling.capPerSourceSummary(spark, sfDir))
    assert(oneShot.nonEmpty)
    assert(rows(StreamingCuration.capPerSourceFromState(spark, st)) ==
      oneShot, "folded cap summary must equal the one-shot batch operator")
    // the BOUNDED-state claim, machine-pinned: after folding the whole
    // corpus the draw table holds <= cap rows per source (the first
    // O(cap x |keys|) twin state) and the counts table one row each
    val perKey = graft.streaming.VersionedState
      .readTable(spark, st, "min_k_draw_cap_per_source").get
      .groupBy($"k").count().collect()
    assert(perKey.nonEmpty &&
      perKey.forall(_.getLong(1) <= graft.ops.Sampling.CapPerSource),
      "state must stay cap-bounded per key")
    // replay: watermark-gated no-op on both tables (a double-fold
    // would inflate n_docs even though the draw is idempotent)
    StreamingCuration.mergeCapPerSourceState(spark, st,
      docs.filter(pmod($"doc_id", lit(3)) === 0), batchId = 0L)
    assert(rows(StreamingCuration.capPerSourceFromState(spark, st)) ==
      oneShot, "redelivered batch must not inflate the counts")
  }

  test("incremental min-k band state: folded frozen-score bands == one-shot band-stratified draw") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-minkband")
    val st = work.resolve("state").toString
    // banding must come from a FROZEN scorer (the documented caller
    // contract); the parity fixture uses the one-shot model's bands so
    // reader == the batch operator exactly
    val banded = graft.ops.TextAnalysis
      .lmSurprisalOf(graft.Tables.t(spark, sfDir, "documents"))
      .select(floor($"bits_per_bigram").cast("long").as("bpb_band"),
        $"doc_id")
      .cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    Seq(1, 0).foreach { i =>
      StreamingCuration.mergeLmBandState(spark, st,
        banded.filter(pmod($"doc_id", lit(2)) === i), batchId = i.toLong)
    }
    val oneShot = rows(graft.ops.Sampling.sampleLmBand(spark, sfDir))
    assert(oneShot.nonEmpty)
    assert(rows(StreamingCuration.lmBandFromState(spark, st)) == oneShot,
      "folded band draw must equal the one-shot sampler, ranks included")
    banded.unpersist()
  }

  test("incremental winnow-evidence state: out-of-order folds + replay + torn append == one-shot winnow decon") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    import graft.ops.Decontamination
    val work = Files.createTempDirectory("graft-winstate")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val isEval = md5($"doc_id".cast("string")) >= Decontamination.EvalLower
    val evalDocs = docs.filter(isEval)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // empty state reads as the empty report (schema-stable)
    assert(rows(StreamingCuration.winnowReportFromState(spark, st)).isEmpty)
    // the training corpus streams in two OUT-OF-ORDER batches; the
    // fold's anti-join excludes benchmark members, so feed the
    // UNFILTERED halves (what a real stream delivers)
    Seq(1, 0).foreach { i =>
      StreamingCuration.mergeWinnowEvidenceState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === i), evalDocs,
        batchId = i.toLong)
    }
    val oneShot = rows(Decontamination.deconWinnow(spark, sfDir))
    assert(oneShot.nonEmpty, "fixture must produce winnow-decon rows")
    assert(rows(StreamingCuration.winnowReportFromState(spark, st)) == oneShot,
      "streamed winnow report must equal the one-shot batch report")
    // replay: watermark-gated no-op
    StreamingCuration.mergeWinnowEvidenceState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 0), evalDocs, batchId = 0L)
    assert(rows(StreamingCuration.winnowReportFromState(spark, st)) == oneShot,
      "redelivered batch must not inflate the evidence")
    // crashed fold: the evidence append landed, the meta commit did
    // not — the (train_id, eval_id) natural key heals at read
    Decontamination.winnowProbeOf(
        docs.filter(pmod($"doc_id", lit(2)) === 0)
          .join(broadcast(evalDocs.select($"doc_id").distinct()),
            Seq("doc_id"), "left_anti"),
        Decontamination.cappedEvalWinnowFps(evalDocs))
      .write.mode("append").parquet(s"$st/winnow_evidence")
    assert(rows(StreamingCuration.winnowReportFromState(spark, st)) == oneShot,
      "crashed double-append must heal at read")
  }

  test("incremental tier-evidence state: per-batch folds + replay == one-shot tier curve") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    import graft.ops.Decontamination
    val work = Files.createTempDirectory("graft-tierstate")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val isEval = md5($"doc_id".cast("string")) >= Decontamination.EvalLower
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // before any snapshot: the fold is a documented no-op and the
    // curve reads as the all-zero report
    StreamingCuration.mergeTierEvidenceState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 0), batchId = 0L)
    assert(rows(StreamingCuration.tierCurveFromState(spark, st))
      .forall(r => r(1) == 0L && r(2) == 0L && r(3) == 0L))
    // freeze the benchmark (the same md5 slice the batch query uses),
    // then fold both halves out of order — batchId 0 re-folds because
    // the pre-snapshot attempt committed nothing
    Decontamination.writeEvalShinglesVersioned(spark, st, docs.filter(isEval))
    Seq(1, 0).foreach { i =>
      StreamingCuration.mergeTierEvidenceState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === i), batchId = i.toLong)
    }
    val oneShot = rows(Decontamination.deconTierCurve(spark, sfDir))
    assert(oneShot.exists(r => r(1).asInstanceOf[Long] > 0L),
      "fixture must have contamination evidence")
    assert(rows(StreamingCuration.tierCurveFromState(spark, st)) == oneShot,
      "streamed tier curve must equal the one-shot batch curve")
    // replay: watermark-gated no-op
    StreamingCuration.mergeTierEvidenceState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 1), batchId = 1L)
    assert(rows(StreamingCuration.tierCurveFromState(spark, st)) == oneShot,
      "redelivered batch must not inflate the evidence")
    // crashed fold: the evidence append landed, the meta commit did
    // not — the (train_id, eval_id) natural key heals at read
    val evalSh = Decontamination.latestEvalShingles(spark, st).get
    Decontamination.contaminationAgainst(
        docs.filter(pmod($"doc_id", lit(2)) === 0)
          .join(broadcast(evalSh.select($"eval_id".as("doc_id")).distinct()),
            Seq("doc_id"), "left_anti"),
        evalSh, minShared = 1L)
      .write.mode("append").parquet(s"$st/tier_evidence")
    assert(rows(StreamingCuration.tierCurveFromState(spark, st)) == oneShot,
      "crashed double-append must heal at read")
    // a benchmark refresh resets the evidence epoch with its watermark
    StreamingCuration.refreshEvalShingles(spark, st, docs.filter(isEval))
    assert(rows(StreamingCuration.tierCurveFromState(spark, st))
      .forall(r => r(1) == 0L && r(2) == 0L && r(3) == 0L),
      "rotation must reset the tier-evidence epoch")
  }

  test("incremental cross-snapshot decon audit: rotated snapshots + per-batch folds == one-shot (VERDICT r11 ask #8)") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    import graft.ops.Decontamination
    val work = Files.createTempDirectory("graft-crosssnap")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    def m(c: org.apache.spark.sql.Column) = md5(c.cast("string"))
    val inV1 = m($"doc_id") >= Decontamination.SnapV1Lower &&
      m($"doc_id") < Decontamination.SnapV1Upper
    val inV2 = m($"doc_id") >= Decontamination.EvalLower
    // two benchmark refreshes: V1 serves, then V2 arrives and V1
    // rotates into the prev slot
    StreamingCuration.refreshEvalShingles(spark, st, docs.filter(inV1))
    StreamingCuration.refreshEvalShingles(spark, st, docs.filter(inV2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // the training corpus streams in two out-of-order batches; the
    // fold's own anti-join excludes benchmark members, so feed it the
    // UNFILTERED halves (what a real stream delivers)
    Seq(1, 0).foreach { i =>
      StreamingCuration.mergeCrossSnapshotState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === i), batchId = i.toLong)
    }
    val oneShot = rows(Decontamination.deconCrossSnapshot(spark, sfDir))
    assert(oneShot.nonEmpty, "fixture must produce audit rows")
    assert(rows(StreamingCuration.crossSnapshotFromState(spark, st)) == oneShot,
      "streamed refresh audit must equal the one-shot batch audit")
    // replay: watermark-gated no-op
    StreamingCuration.mergeCrossSnapshotState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 0), batchId = 0L)
    assert(rows(StreamingCuration.crossSnapshotFromState(spark, st)) == oneShot,
      "redelivered batch must not inflate the audit")
    // crashed fold: the hits append landed but the meta commit never
    // ran — replaying the managed fold heals at read via train_id
    val half = docs.filter(pmod($"doc_id", lit(2)) === 0)
    val prevSh = graft.streaming.VersionedState
      .readTable(spark, st, "eval_shingles_prev").get
    val curSh = Decontamination.latestEvalShingles(spark, st).get
    val tagged = prevSh.select($"eval_id", $"sh", lit(1).as("snap"))
      .unionByName(curSh.select($"eval_id", $"sh", lit(2).as("snap")))
    Decontamination.crossSnapshotHitsOf(
        half.join(broadcast(tagged.select($"eval_id".as("doc_id")).distinct()),
          Seq("doc_id"), "left_anti"), tagged)
      .write.mode("append").parquet(s"$st/cross_snapshot_hits")
    assert(rows(StreamingCuration.crossSnapshotFromState(spark, st)) == oneShot,
      "crashed double-append must heal at read")
    // a THIRD refresh starts a new audit epoch: old-pair hit rows and
    // the fold watermark reset together, so the report empties and a
    // redelivered old batchId AUDITS under the new pair instead of
    // being watermark-skipped (r12 self-review finding)
    StreamingCuration.refreshEvalShingles(spark, st, docs.filter(inV1))
    assert(rows(StreamingCuration.crossSnapshotFromState(spark, st)).isEmpty,
      "rotation must reset the audit epoch")
    Seq(0, 1).foreach { i =>
      StreamingCuration.mergeCrossSnapshotState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === i), batchId = i.toLong)
    }
    val prevSh3 = graft.streaming.VersionedState
      .readTable(spark, st, "eval_shingles_prev").get
    val curSh3 = Decontamination.latestEvalShingles(spark, st).get
    val tagged3 = prevSh3.select($"eval_id", $"sh", lit(1).as("snap"))
      .unionByName(curSh3.select($"eval_id", $"sh", lit(2).as("snap")))
    val want3 = rows(Decontamination.crossSnapshotStatus(
        Decontamination.crossSnapshotHitsOf(
          docs.join(broadcast(tagged3.select($"eval_id".as("doc_id")).distinct()),
            Seq("doc_id"), "left_anti"), tagged3))
      .orderBy("train_id"))
    assert(want3.nonEmpty,
      "new-epoch fixture must produce audit rows")
    assert(rows(StreamingCuration.crossSnapshotFromState(spark, st)) == want3,
      "post-rotation folds must audit under the NEW snapshot pair")
  }

  test("rotation lock serializes benchmark refresh against epoch-scoped folds (r12 ADVICE #2)") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    import graft.ops.Decontamination
    val work = Files.createTempDirectory("graft-rotlock")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
    def m(c: org.apache.spark.sql.Column) = md5(c.cast("string"))
    val inV1 = m($"doc_id") >= Decontamination.SnapV1Lower &&
      m($"doc_id") < Decontamination.SnapV1Upper
    val inV2 = m($"doc_id") >= Decontamination.EvalLower
    StreamingCuration.refreshEvalShingles(spark, st, docs.filter(inV1))
    StreamingCuration.refreshEvalShingles(spark, st, docs.filter(inV2))
    // A fold attempted while a rotation holds the lock must BLOCK on
    // monitor entry — never interleave with the multi-step epoch reset.
    // Thread.State.BLOCKED is reachable ONLY by contending the monitor,
    // so this is a deterministic wiring check, not a sleep race.
    @volatile var folded = false
    val t = new Thread(() => {
      StreamingCuration.mergeCrossSnapshotState(spark, st,
        docs.filter(pmod($"doc_id", lit(2)) === 0), batchId = 0L)
      folded = true
    })
    StreamingCuration.rotationLock.synchronized {
      t.start()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (t.getState != Thread.State.BLOCKED && t.isAlive &&
          System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(t.getState == Thread.State.BLOCKED,
        "a concurrent fold must wait on the rotation lock")
      assert(!folded, "fold must not complete while rotation is in flight")
    }
    t.join(120000)
    assert(folded, "fold must proceed once the rotation releases the lock")
    // the serialized schedule then behaves exactly like the sequential
    // one the crash-heal scaladoc argues about
    StreamingCuration.mergeCrossSnapshotState(spark, st,
      docs.filter(pmod($"doc_id", lit(2)) === 1), batchId = 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(StreamingCuration.crossSnapshotFromState(spark, st)) ==
      rows(Decontamination.deconCrossSnapshot(spark, sfDir)),
      "serialized fold schedule must equal the one-shot batch audit")
  }

  test("incremental ExactSubstr state: out-of-order folds + crashed double-append == one-shot") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-substrstate")
    val st = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents").filter($"doc_id" < 120)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // fold thirds OUT OF ORDER — index appends are order-free, and the
    // r11 folded-id set makes out-of-order managed ids exactly-once
    Seq(2, 0, 1).foreach { i =>
      StreamingCuration.mergeSubstrSpanState(spark, st,
        docs.filter(pmod($"doc_id", lit(3)) === i), batchId = i.toLong)
    }
    val oneShot = rows(graft.ops.Curation.substrSpansOf(docs))
    assert(rows(StreamingCuration.substrSpansFromState(spark, st)) == oneShot,
      "streamed span audit must equal the one-shot batch op")
    // clean replay: watermark-gated no-op
    StreamingCuration.mergeSubstrSpanState(spark, st,
      docs.filter(pmod($"doc_id", lit(3)) === 1), batchId = 1L)
    assert(rows(StreamingCuration.substrSpansFromState(spark, st)) == oneShot,
      "redelivered batch must not inflate occurrence counts")
    // crashed fold: both appends landed but the meta commit never ran —
    // emulate by performing the appends manually, then replay the full
    // managed fold; the read-side (doc_id, p) dedup heals the doubles
    val late = graft.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" >= 120 && $"doc_id" < 160)
    graft.ops.Curation.substrGramsOf(late.select($"doc_id", $"text"))
      .write.mode("append").parquet(s"$st/substr_gram_index")
    late.select($"doc_id", length($"text").cast("long").as("n_chars"))
      .write.mode("append").parquet(s"$st/substr_doc_lens")
    StreamingCuration.mergeSubstrSpanState(spark, st, late, batchId = 3L)
    val all = graft.Tables.t(spark, sfDir, "documents").filter($"doc_id" < 160)
    assert(rows(StreamingCuration.substrSpansFromState(spark, st)) ==
      rows(graft.ops.Curation.substrSpansOf(all)),
      "crashed double-append must heal at read")
    // retroactive span: a doc ingested clean gains its spans the moment
    // a later batch delivers the second occurrence
    val st2 = work.resolve("state2").toString
    val run = "The quick brown fox jumps over the lazy dog tonight."
    StreamingCuration.mergeSubstrSpanState(spark, st2,
      Seq((1L, run + " unique tail one")).toDF("doc_id", "text"), batchId = 0L)
    val before = rows(StreamingCuration.substrSpansFromState(spark, st2))
    assert(before.forall(r => r(2) == 0L), s"no dup spans yet: $before")
    StreamingCuration.mergeSubstrSpanState(spark, st2,
      Seq((2L, "other tail two " + run)).toDF("doc_id", "text"), batchId = 1L)
    val after = rows(StreamingCuration.substrSpansFromState(spark, st2))
    assert(after.forall(r => r(2).asInstanceOf[Long] >= 1L),
      s"both docs must now carry the shared span: $after")
    // duplicate-safe compaction (r11 review finding #1): the gram
    // index compacts move-in-first, and the report is unmoved
    val preFiles = graft.streaming.StateFs
      .list(s"$st/substr_gram_index").count(_.getName.endsWith(".parquet"))
    assert(preFiles > 1, s"fixture needs multiple files, got $preFiles")
    val pre = rows(StreamingCuration.substrSpansFromState(spark, st))
    StreamingCuration.maybeCompactCorpus(spark, st, maxFiles = 1)
    val postFiles = graft.streaming.StateFs
      .list(s"$st/substr_gram_index").count(_.getName.endsWith(".parquet"))
    assert(postFiles < preFiles,
      s"compaction must reduce files: $preFiles -> $postFiles")
    assert(rows(StreamingCuration.substrSpansFromState(spark, st)) == pre,
      "compaction must not move the report")
  }

  test("accept-phase crash before the docs commit point self-repairs on replay") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-acceptcrash")
    val ctrl = work.resolve("ctrl").toString
    val crash = work.resolve("crash").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" < 40).localCheckpoint(true)
    // control: one clean delivery
    StreamingCuration.processBatch(spark, docs, ctrl, batchId = 0L)
    // crashed first attempt: the sets append landed but the process
    // died BEFORE the docs commit point (the exact window the old
    // docs-first order could not survive) — emulate by pre-seeding the
    // batch's corpus_sets and nothing else
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      Files.createDirectories(to)
      Files.list(from).forEach { p =>
        if (!Files.isDirectory(p))
          Files.copy(p, to.resolve(p.getFileName.toString))
      }
    }
    copyDir(java.nio.file.Paths.get(ctrl, "corpus_sets"),
      java.nio.file.Paths.get(crash, "corpus_sets"))
    // redelivery runs the whole batch again
    StreamingCuration.processBatch(spark, docs, crash, batchId = 0L)
    def rows(dir: String, table: String) =
      spark.read.parquet(s"$dir/$table").collect().map(_.toSeq).toSet
    // exactly-once everywhere: no duplicated shingle sets, identical
    // corpus, identical accept-phase fold state
    assert(rows(crash, "corpus_sets") == rows(ctrl, "corpus_sets"),
      "sets append must be idempotent under replay")
    val crashIds = spark.read.parquet(s"$crash/corpus_sets")
      .groupBy($"doc_id").count().filter($"count" > 1).count()
    assert(crashIds == 0L, "no doc may hold two shingle-set rows")
    assert(rows(crash, "corpus_docs") == rows(ctrl, "corpus_docs"),
      "corpus must converge to the clean-delivery corpus")
    assert(
      graft.streaming.VersionedState
        .readTable(spark, crash, "chunk_freq").get.collect().map(_.toSeq).toSet ==
      graft.streaming.VersionedState
        .readTable(spark, ctrl, "chunk_freq").get.collect().map(_.toSeq).toSet,
      "accept-phase folds must converge")
  }

  test("processBatch: redelivered micro-batch leaves corpus AND monitor states unchanged") {
    import spark.implicits._
    import graft.examples.StreamingCuration
    val work = Files.createTempDirectory("graft-pbreplay")
    val state = work.resolve("state").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" < 40).localCheckpoint(true)
    val n1 = StreamingCuration.processBatch(spark, docs, state, batchId = 0L)
    val profile1 = StreamingCuration.profileFromState(spark, state)
      .collect().map(_.toSeq).toSeq
    val heaps1 = StreamingCuration.heapsCurveFromState(spark, state)
      .collect().map(_.toSeq).toSeq
    // at-least-once redelivery of the same foreachBatch id
    val n2 = StreamingCuration.processBatch(spark, docs, state, batchId = 0L)
    assert(n2 == n1, "replay must not grow the corpus")
    assert(StreamingCuration.profileFromState(spark, state)
      .collect().map(_.toSeq).toSeq == profile1,
      "replay must not inflate the arrival profile")
    assert(StreamingCuration.heapsCurveFromState(spark, state)
      .collect().map(_.toSeq).toSeq == heaps1,
      "replay must not shift the vocab-growth positions")
  }

  test("cloud sink validates format; foreachBatch sink runs callback") {
    intercept[IllegalArgumentException](
      CloudStorageStreamingSink("s3a://b/p", fileFormat = "xml"))
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val work = Files.createTempDirectory("graft-feb")
    spark.range(0, 5).write.parquet(work.resolve("in/b1").toString)
    val q = new StreamingPipeline(
      source = FileStreamingSource(work.resolve("in").toString + "/*",
        schemaDdl = Some("id LONG")),
      sink = ForeachBatchSink((df, _) => seen.addAndGet(df.count())),
      trigger = TriggerConfig.AvailableNow).startStream(spark)
    q.awaitTermination(60000)
    assert(seen.get() == 5)
  }
}
