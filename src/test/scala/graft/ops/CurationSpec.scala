package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("boilerplate: removed chunks are exactly the cross-doc-frequent ones") {
    val docs = graft.Tables.t(spark, sfDir, "documents").select($"doc_id", $"text")
    val chunks = docs
      .select($"doc_id", explode(Curation.chunksOf($"text")).as("chunk"))
    val freq = chunks.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("nd"))
    val expected = chunks.join(freq, "chunk")
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_chunks"),
        sum(when($"nd" >= Curation.BoilerMinDocs, 1L).otherwise(0L)).as("n_removed"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = Curation.taBoilerplate(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (nc, nr) = expected(r.getLong(0))
      assert(r.getLong(1) == nc && r.getLong(2) == nr, s"doc ${r.getLong(0)}")
    }
    assert(got.exists(_.getLong(2) > 0), "corpus has cross-doc repeated chunks")
  }

  test("boilerplate: exact dups vanish, shared headers strip, unique text survives") {
    val w = Curation.ChunkTokens
    val header = (1 to w).map(i => s"h$i").mkString(" ")
    def body(seed: String) = (1 to w).map(i => s"$seed$i").mkString(" ")
    val docs = Seq(
      (1L, s"$header ${body("a")}"), // header shared with 2 and 3
      (2L, s"$header ${body("b")}"),
      (3L, s"$header ${body("b")}"), // exact dup of 2
      (4L, body("z"))                // fully unique
    ).toDF("doc_id", "text")
    val out = Curation.boilerplateOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, out(1L)._3))) // header stripped, body kept
    assert(out(2L)._1 == 2L && out(2L)._2 == 2L, "exact dup removed in full")
    assert(out(3L) == out(2L))
    assert(out(4L) == ((1L, 0L,
      java.security.MessageDigest.getInstance("MD5")
        .digest(body("z").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)))
  }

  test("boilerplate: removal pass never shuffles text; untouched docs keep theirs") {
    val df = Curation.taBoilerplate(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"removal pass must be a per-doc map over the scan (frequent set rides a broadcast):\n$plan")
    // a doc with zero removals reassembles to its own chunking
    val clean = df.filter($"n_removed" === 0).limit(1).collect().head
    val docId = clean.getLong(0)
    val txt = graft.Tables.t(spark, sfDir, "documents")
      .filter($"doc_id" === docId)
      .select(md5(concat_ws(" ", Curation.chunksOf($"text"))).as("m"))
      .collect().head.getString(0)
    assert(clean.getString(3) == txt)
  }

  test("property: boilerplate matches an in-memory CCNet reference on generated corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val w = Curation.ChunkTokens
    // tiny vocabulary forces cross-doc chunk collisions; lengths span
    // empty, sub-chunk, and multi-chunk documents
    val genDoc = Gen.choose(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" ")))
    val genCorpus = Gen.choose(4, 18).flatMap(n => Gen.listOfN(n, genDoc))
    def reference(texts: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
      def chunks(t: String) = {
        val toks = t.trim.split("\\s+").filter(_.nonEmpty)
        (0 until (toks.length + w - 1) / w)
          .map(c => toks.slice(c * w, math.min(toks.length, (c + 1) * w)).mkString(" "))
      }
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val freq = texts.flatMap { case (id, t) => chunks(t).distinct.map(c => (c, id)) }
        .groupBy(_._1).collect { case (c, xs) if xs.map(_._2).distinct.size >= 2 => c }
        .toSet
      texts.flatMap { case (id, t) =>
        val cs = chunks(t)
        if (cs.isEmpty) None
        else {
          val kept = cs.filterNot(freq)
          Some(id -> ((cs.size.toLong, (cs.size - kept.size).toLong,
            md5hex(kept.mkString(" ")))))
        }
      }.toMap
    }
    (0 until 6).foreach { i =>
      genCorpus(Gen.Parameters.default, Seed(i.toLong)).foreach { texts0 =>
        val texts = texts0.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        val df = texts.toDF("doc_id", "text")
        val expected = reference(texts)
        def got(budget: Int) =
          Curation.boilerplateOf(df, broadcastBudget = budget).collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
            .toMap
        assert(got(1000000) == expected, s"seed $i: kernel path != reference")
        assert(got(0) == expected, s"seed $i: join path != reference")
      }
    }
  }

  test("intra-doc dedup: repeated chunks drop, first occurrences keep their order") {
    val w = Curation.ChunkTokens
    def block(tag: String) = (1 to w).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      // nav A, body, nav A again, footer, nav A a third time
      (1L, s"${block("nav")} ${block("body")} ${block("nav")} ${block("foot")} ${block("nav")}"),
      (2L, block("solo")),            // nothing repeats
      (3L, s"${block("x")} ${block("x")}")) // immediate repeat
      .toDF("doc_id", "text")
    val out = Curation.intraDocDedupOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((5L, 2L,
      md5hex(s"${block("nav")} ${block("body")} ${block("foot")}"))),
      "two nav repeats drop, order preserved")
    assert(out(2L) == ((1L, 0L, md5hex(block("solo")))))
    assert(out(3L) == ((2L, 1L, md5hex(block("x")))))
  }

  test("exact-substr: shared passages merge to one span; offsets and boundaries don't hide them") {
    val k = Curation.SubstrWindow
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val shared = words("dup", k + 4) // 12 tokens: k+4 overlapping windows -> ONE span
    val docs = Seq(
      // the shared passage sits at a different token OFFSET in each doc
      // (1 vs 3 leading tokens), so the fixed-chunk boilerplate pass
      // would hash different chunks and miss it — the window form can't
      (1L, s"lead1 $shared ${words("tail", 6)}"),
      (2L, s"pre1 pre2 pre3 $shared ${words("end", 5)}"),
      (3L, words("uniq", 20)),                       // nothing shared
      (4L, s"${words("solo", 4)} ${words("solo", 4)}"), // intra-doc repeat ONLY: 2 distinct docs required
      (5L, "short doc"))                              // < k tokens: no windows
      .toDF("doc_id", "text")
    val out = Curation.exactSubstrOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((1L + (k + 4L) + 6L, 1L, k + 4L,
      md5hex(s"lead1 ${words("tail", 6)}"))),
      "doc 1: the k+4-token passage merges to one span, exactly its tokens removed")
    assert(out(2L) == ((3L + (k + 4L) + 5L, 1L, k + 4L,
      md5hex(s"pre1 pre2 pre3 ${words("end", 5)}"))),
      "doc 2: same passage at a different offset, same single span")
    assert(out(3L)._3 == 0L, "unshared text untouched")
    assert(out(4L)._3 == 0L,
      "a repeat within ONE doc is not cross-doc duplication (minDocs=2 distinct docs)")
    assert(out(5L) == ((2L, 0L, 0L, md5hex("short doc"))),
      "sub-window docs have no windows and survive whole")
  }

  test("importance: target-like docs outscore off-domain docs; real-data en > rest") {
    // raw corpus = English-ish + Spanish-ish + mojibake; target = the
    // English half only. The linear discriminant must rank every
    // English doc above every non-English one.
    val en = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the morning"),
      (2L, "a quiet evening with the old book and the warm fire inside"),
      (3L, "the children walk to the school along the river every day"))
    val off = Seq(
      (11L, "el zorro marron salta sobre el perro perezoso cada manana"),
      (12L, "los ninos caminan a la escuela junto al rio cada dia"),
      (13L, "Ã©Â±Ã¨ Ã©Â± garbled Ã© bytes Â±Ã"))
    val docs = (en ++ off).toDF("doc_id", "text")
    val target = en.toDF("doc_id", "text")
    val scores = Curation.importanceOf(docs, target).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val worstEn = en.map(d => scores(d._1)).min
    val bestOff = off.map(d => scores(d._1)).max
    assert(worstEn > bestOff,
      s"every target-domain doc must outrank every off-domain doc " +
        s"(worst en $worstEn vs best off $bestOff)\n$scores")
    // registered form on real data: en docs average above non-en
    val real = Curation.taImportance(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val langs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def mean(xs: Iterable[Double]) = xs.sum / xs.size
    val enMean = mean(real.collect { case (id, sc) if langs(id) == "en" => sc })
    val restMean = mean(real.collect { case (id, sc) if langs(id) != "en" => sc })
    assert(enMean > restMean,
      s"en docs must average above the rest ($enMean vs $restMean)")
  }

  test("importance: frozen model scores batches bit-identically to inline training") {
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val target = docs.filter($"lang" === "en")
    val path = java.nio.file.Files.createTempDirectory("graft-impmodel")
      .resolve("m").toString
    Curation.writeImportanceModel(docs, target, path)
    val inline = Curation.importanceOf(docs, target).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val frozen = Curation.scoreImportanceFrozen(docs, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(frozen == inline,
      "integer discriminant must round-trip the freeze bit-exactly")
    // batch scoring: a subset frame scores under the frozen model with
    // the same rows it gets inside the full-corpus run
    val sub = Curation.scoreImportanceFrozen(
      docs.filter($"doc_id" % 7 === 0), path).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val full = inline.map(r => r._1 -> r._3).toMap
    assert(sub.nonEmpty && sub.forall { case (id, sc) => full(id) == sc },
      "per-doc scores must not depend on which batch a doc arrives in")
  }

  test("curriculum: contiguous per-source ranks, monotone difficulty, full interleave") {
    val rows = Curation.mixCurriculum(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val bySrc = rows.groupBy(_._2)
    assert(bySrc.size > 1)
    bySrc.foreach { case (src, rs) =>
      val ranked = rs.sortBy(_._1)
      assert(ranked.map(_._1).toSeq == (1L to rs.length).toSeq,
        s"$src: ranks must be contiguous from 1")
      val toks = ranked.map(_._4)
      assert(toks.zip(toks.tail).forall { case (a, b) => a <= b },
        s"$src: difficulty (n_tokens) must be non-decreasing in rank")
    }
    // the first |sources| rows of the curriculum order are one doc from
    // EVERY source (the round-robin property)
    val firstBlock = rows.sortBy(r => (r._1, r._2, r._3)).take(bySrc.size)
    assert(firstBlock.map(_._2).distinct.length == bySrc.size,
      "rank-1 block must cover every source exactly once")
  }

  test("boilerplate: join path == kernel path when the frequent set exceeds the budget") {
    val docs = graft.Tables.t(spark, sfDir, "documents").select($"doc_id", $"text")
    val frequent = Curation.frequentChunkHashes(docs)
    val nFrequent = frequent.count()
    assert(nFrequent > 1, "corpus has a multi-entry frequent set")
    // budget 0 forces the distributed join plan; a budget above the set
    // size keeps the broadcast kernel — identical rows either way
    val viaJoin = Curation.boilerplateWithFrequent(docs, frequent, broadcastBudget = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val viaKernel = Curation
      .boilerplateWithFrequent(docs, frequent, broadcastBudget = nFrequent.toInt + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(viaJoin.sameElements(viaKernel), "removal paths must agree row-for-row")
    assert(viaJoin.exists(_._3 > 0), "the comparison actually removed chunks")
    // and the join plan holds no driver-side frequent set: its only
    // collected artifact is the bounded budget probe (0+1 rows here)
    val probe = frequent.limit(1).collect()
    assert(probe.length == 1)
  }

  test("semantic dedup: flags exactly the same-cluster embcos pairs, keep-first") {
    val assign = Curation.assignClusters(spark, sfDir)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.values.toSet.subsetOf((0L until Curation.NumCentroids).toSet))
    assert(assign.values.toSet.size > 1, "assignment uses multiple clusters")
    // ground truth: the proven exact all-pairs cosine dedup, restricted
    // to pairs whose endpoints share a cluster
    val truth = Similarity.dedupEmbCosineTiled(spark, sfDir,
        threshold = Curation.SemThreshold, numBlocks = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => assign(a) == assign(b) }
    val expectedKeeper = truth.groupBy(_._2).map { case (b, ps) =>
      b -> ps.map(_._1).min
    }
    val got = Curation.dedupSemantic(spark, sfDir).collect()
      .map(r => r.getLong(1) -> (r.getLong(0), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == expectedKeeper.keySet)
    expectedKeeper.foreach { case (dup, keeper) =>
      val (cl, k, cos) = got(dup)
      assert(k == keeper, s"dup $dup keeper")
      assert(cl == assign(dup) && cl == assign(keeper))
      assert(cos >= Curation.SemThreshold)
    }
  }

  test("semantic dedup: centroid assignment is a shuffle-free map over the scan") {
    val df = Curation.assignClusters(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("familiarity: matches an in-memory trigram model of the whole corpus") {
    val texts = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def norm(t: String) = t.trim.replaceAll("\\s+", " ").toLowerCase
    def tris(t: String) = {
      val n = norm(t)
      (0 to n.length - 3).map(i => n.substring(i, i + 3))
    }
    val model = texts.flatMap { case (_, t) => tris(t) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = texts.collect { case (id, t) if norm(t).length >= 3 =>
      val ts = tris(t)
      id -> (ts.size.toLong, ts.map(model).sum)
    }.toMap
    val got = Curation.taFamiliarity(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, s) = expected(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == s, s"doc ${r.getLong(0)}")
      assert(r.getDouble(3) == s.toDouble / n.toDouble)
    }
  }

  test("char LM: mojibake sinks below clean text, agreeing with familiarity") {
    // clean docs share common English character transitions; the
    // mojibake docs are improbable transitions — BOTH scorers must rank
    // every mojibake doc below every clean doc
    val clean = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the lazy dog sleeps under the warm sun beside the quiet river"),
      (3L, "a quick brown cat jumps over the sleepy dog near the bank"))
    val mojibake = Seq(
      (10L, "zq xv jk qz vx kj zzqq xxvv wqkz jxqv"),
      (11L, "Ã©Â¿Â½ Ã©Â¿Â½ qzx vkj wqz"))
    val docs = (clean ++ mojibake).toDF("doc_id", "text")
    val lmScores = Curation.scoreCharLm(docs, Curation.trainCharLm(docs))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val famScores = Curation
      .scoreFamiliarity(docs, Curation.trainTrigramModel(docs))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val cleanIds = clean.map(_._1)
    val mojiIds = mojibake.map(_._1)
    for (c <- cleanIds; m <- mojiIds) {
      assert(lmScores(c) > lmScores(m), s"char LM must rank doc $c above $m")
      assert(famScores(c) > famScores(m), s"familiarity must rank doc $c above $m")
    }
    // smoothed probabilities stay in (0, 1]: log-probs are <= 0 and
    // finite even for the all-unseen transitions
    lmScores.values.foreach(v => assert(v <= 0.0 && !v.isNaN && !v.isInfinite))
  }

  test("char LM: frozen model round-trips and scores new docs without retraining") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat naps under the warm sun")).toDF("doc_id", "text")
    val lm = Curation.trainCharLm(corpus)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-charlm").resolve("m").toString
    Curation.writeCharLm(lm, dir)
    val frozen = Curation.readCharLm(spark, dir)
    assert(frozen.vocab == lm.vocab)
    val incoming = Seq(
      (10L, "the quick brown fox naps in the sun"),
      (11L, "zzzz qqqq xxxx vvvv kkkk jjjj wwww")).toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val live = Curation.scoreCharLm(incoming, lm).collect().map(key)
    val thawed = Curation.scoreCharLm(incoming, frozen).collect().map(key)
    assert(live.sameElements(thawed), "frozen model must score identically")
    // the unseen-trigram doc lands strictly below the familiar one
    val byId = live.map(t => t._1 -> t._3).toMap
    assert(byId(10L) > byId(11L))
  }

  test("mix budget: greedy longest-first fill is tight per source") {
    val rows = Curation.mixBudget(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.map(_._3).sum == rs.map(_._4).max, s"$src cum consistent")
      assert(rs.map(_._4).max <= Curation.MixBudget)
    }
    // completeness: the first doc a source skips would blow the budget
    val all = graft.Tables.t(spark, sfDir, "documents")
      .select($"source", $"doc_id", $"n_chars",
        graft.ops.TextAnalysis.tokenCount($"text").as("nt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val kept = rows.map(r => (r._1, r._2)).toSet
    all.groupBy(_._1).foreach { case (src, docs) =>
      val ordered = docs.sortBy(d => (-d._3, d._2))
      var cum = 0L
      ordered.foreach { d =>
        cum += d._4
        assert(kept.contains((src, d._2)) == (cum <= Curation.MixBudget),
          s"greedy membership for $src/${d._2}")
      }
    }
    // the report aggregates the same selection
    val report = Curation.mixReport(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    val bySrc = rows.groupBy(_._1)
    report.foreach { case (src, (nKept, keptToks)) =>
      val rs = bySrc.getOrElse(src, Array.empty)
      assert(nKept == rs.length && keptToks == rs.map(_._3).sum,
        s"report disagrees with selection for $src")
    }
    assert(report.keySet == all.map(_._1).toSet, "report covers every source")
  }

  test("mix budget curve: every budget row equals its own greedy re-fill; monotone in budget") {
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val curve = Curation.mixBudgetCurveOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(curve.map(_._1).toSeq == Curation.MixCurveBudgets,
      "one row per candidate budget, ordered")
    // ground truth: re-run the single-budget greedy fill per candidate —
    // the curve must read the SAME selection off one capped pass
    curve.foreach { case (b, got) =>
      val fill = Curation.mixBudgetOf(docs, b).collect()
      val want = (fill.length.toLong, fill.map(_.getLong(2)).sum,
        fill.map(_.getString(0)).distinct.length.toLong)
      assert(got == want, s"budget $b: curve $got vs re-fill $want")
    }
    // the inclusive-prefix rule makes every column non-decreasing
    curve.map(_._2).sliding(2).foreach {
      case Array((d1, t1, s1), (d2, t2, s2)) =>
        assert(d1 <= d2 && t1 <= t2 && s1 <= s2, "curve must be monotone")
      case _ => ()
    }
    assert(curve.last._2._1 > 0L, "largest budget must keep documents")
  }

  test("mix budget: two-pass prefix sum is partition-independent and matches the window form") {
    val docs = graft.Tables.t(spark, sfDir, "documents")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val at32 = Curation.mixBudgetOf(docs, partitions = 32).collect().map(key)
    val at1 = Curation.mixBudgetOf(docs, partitions = 1).collect().map(key)
    val at5 = Curation.mixBudgetOf(docs, partitions = 5).collect().map(key)
    assert(at32.sameElements(at1) && at32.sameElements(at5),
      "selection must not depend on the partition count")
    // independent reference: the single-reducer window running sum
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      .orderBy($"n_chars".desc, $"doc_id".asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ref = docs
      .select($"doc_id", $"source", $"n_chars",
        TextAnalysis.tokenCount($"text").as("n_tokens"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" <= Curation.MixBudget)
      .select($"source", $"doc_id", $"n_tokens", $"cum_tokens")
      .orderBy("source", "cum_tokens").collect().map(key)
    assert(at32.sameElements(ref), "prefix-sum form must equal the window form")
  }

  test("mix budget: one mega-source parallelizes and matches the window form") {
    // the exact case the prefix sum exists for: EVERY doc in a single
    // source, so the old window form would serialize the whole corpus
    // through one reducer — the two-pass form must give the same greedy
    // answer from many partitions, including zero-token (whitespace)
    // docs that ride along without advancing the running sum
    val docs = (1L to 400L).map { i =>
      val body =
        if (i % 97 == 0) "   " // whitespace-only: 0 tokens
        else (1 to (i % 13 + 1).toInt).map(j => s"w$j").mkString(" ")
      (i, "mega", body.length.toLong, body)
    }.toDF("doc_id", "source", "n_chars", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // zero-token docs tie on cum_tokens, so the output ORDER BY is not
    // a total order — compare under a full sort key instead
    val at8 = Curation.mixBudgetOf(docs, budget = 150L, partitions = 8)
      .collect().map(key).sortBy(r => (r._1, r._4, r._2))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      .orderBy($"n_chars".desc, $"doc_id".asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ref = docs
      .select($"doc_id", $"source", $"n_chars",
        TextAnalysis.tokenCount($"text").as("n_tokens"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" <= 150L)
      .select($"source", $"doc_id", $"n_tokens", $"cum_tokens")
      .collect().map(key).sortBy(r => (r._1, r._4, r._2))
    assert(at8.length == ref.length && at8.sameElements(ref),
      "mega-source prefix sum must equal the window form")
    assert(at8.nonEmpty)
  }

  test("mix budget: a null source keeps its running sum across partitions") {
    // 60 null-source docs and 20 in source `a`, one token each: the null
    // group spans several range partitions at partitions = 7, and each
    // partition after the first must continue its run, not restart at 0
    val docs = (1L to 80L).map(i => (i, if (i <= 60L) null else "a", 1L, "w"))
      .toDF("doc_id", "source", "n_chars", "text")
    def kept(p: Int) = Curation.mixBudgetOf(docs, budget = 10L, partitions = p)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(3))).toSet
    val at1 = kept(1)
    assert(at1.size == 20)
    assert(kept(7) == at1, "selection must not depend on the partition count")
  }

  test("mix epochs: full epochs precede partial ones, cap and budget bind, partition-independent") {
    val rows = Curation.mixEpochs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, e, _, _, cum) =>
      assert(e >= 1L && e <= Curation.MixEpochs.toLong, "epoch within cap")
      assert(cum <= Curation.MixEpochBudget, "budget respected")
    }
    // a (source, epoch, doc) triple is selected at most once
    assert(rows.map(r => (r._1, r._2, r._3)).distinct.length == rows.length)
    // epoch e+1 of a source only starts once epoch e is COMPLETE (every
    // corpus doc of the source present) — the greedy order replays the
    // whole corpus before wrapping
    val corpusDocs = graft.Tables.t(spark, sfDir, "documents")
      .select($"source", $"doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byEpoch = rs.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
      val maxE = byEpoch.keys.max
      (1L until maxE).foreach { e =>
        assert(byEpoch(e) == corpusDocs(src),
          s"$src epoch $e must be complete before epoch ${e + 1} starts")
      }
    }
    // the chosen budget makes repeats actually happen
    assert(rows.exists(_._2 >= 2L), "some source must wrap into epoch 2+")
    // maxEpochs = 1 degenerates exactly to the single-epoch mix
    val docs = graft.Tables.t(spark, sfDir, "documents")
    def key4(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val e1 = Curation.mixEpochsOf(docs, budget = Curation.MixBudget, maxEpochs = 1)
      .select($"source", $"doc_id", $"n_tokens", $"cum_tokens")
      .collect().map(key4)
    val mb = Curation.mixBudgetOf(docs).collect().map(key4)
    assert(e1.sameElements(mb), "maxEpochs=1 must equal mixBudget")
    // partition-count independence (the prefix-sum contract)
    def key5(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val at32 = Curation.mixEpochsOf(docs, partitions = 32).collect().map(key5)
    val at1 = Curation.mixEpochsOf(docs, partitions = 1).collect().map(key5)
    val at7 = Curation.mixEpochsOf(docs, partitions = 7).collect().map(key5)
    assert(at32.sameElements(at1) && at32.sameElements(at7),
      "selection must not depend on the partition count")
  }

  test("semantic dedup cluster cap: over-cap clusters drop, the rest are exact") {
    val assign = Curation.assignClusters(spark, sfDir)
    val sizes = assign.groupBy($"cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cap = sizes.values.toSeq.sorted.apply(sizes.size / 2).toInt // median
    val overCap = sizes.filter(_._2 > cap).keySet
    assert(overCap.nonEmpty && overCap.size < sizes.size, "cap splits clusters")
    val full = Curation.dedupSemantic(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val capped = Curation.dedupSemanticWith(
        Curation.assignClusters(spark, sfDir), Curation.SemThreshold, Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.toSet == full.filterNot(p => overCap.contains(p._1)).toSet,
      "capped result = full result minus over-cap clusters' pairs")
  }

  test("kmeans: Lloyd rounds descend WCSS and reach an assignment fixpoint") {
    val vecs = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val init = vecs.orderBy($"vec_id".asc).limit(8)
      .collect().map(_.getSeq[Double](1).toArray)
    val trained = Similarity.kmeans(vecs, k = 8, maxIter = 30)
    val w0 = Similarity.wcss(vecs, init)
    val w1 = Similarity.wcss(vecs, trained)
    assert(w1 <= w0, s"training must not increase WCSS: $w0 -> $w1")
    assert(w1 < w0 * 0.9, s"training should meaningfully descend: $w0 -> $w1")
    // fixpoint: recomputing means from the trained assignment and
    // re-assigning changes nothing
    import spark.implicits._
    val ds = vecs.as[(Long, Array[Double])]
    val a1 = Similarity.assignEuclidean(ds, trained)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val meanUdaf = udaf(new graft.functions.VectorMeanAggregator(64))
    val means = vecs
      .join(Similarity.assignEuclidean(ds, trained).select($"vec_id", $"cluster"), "vec_id")
      .groupBy($"cluster").agg(meanUdaf($"e").as("cent"))
      .collect().map(r => r.getLong(0).toInt -> r.getSeq[Double](1).toArray).toMap
    val next = Array.tabulate(8)(i => means.getOrElse(i, trained(i)))
    val a2 = Similarity.assignEuclidean(ds, next)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1 == a2, "converged k-means must be a Lloyd fixpoint")
  }

  test("kmeans-backed semantic dedup: flags exactly the same-cluster near-dups") {
    val vecs = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    import spark.implicits._
    val cents = Similarity.kmeans(vecs, k = 8, maxIter = 30)
    val assign = Similarity.assignEuclidean(vecs.as[(Long, Array[Double])], cents)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = Similarity.dedupEmbCosineTiled(spark, sfDir,
        threshold = Curation.SemThreshold, numBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => assign(a) == assign(b) }
    val expectedKeeper = truth.groupBy(_._2).map { case (b, ps) =>
      b -> ps.map(_._1).min
    }
    val got = Curation.dedupSemanticWith(
        Similarity.assignEuclidean(vecs.as[(Long, Array[Double])], cents)
          .select($"vec_id", $"v", $"cluster"),
        Curation.SemThreshold)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got.keySet == expectedKeeper.keySet)
    expectedKeeper.foreach { case (dup, keeper) =>
      assert(got(dup) == keeper, s"dup $dup keeper")
    }
    assert(got.nonEmpty, "trained clusters still surface near-dups")
  }

  test("cluster-balanced sampling: replayable membership, smallest cluster kept whole") {
    val rows = Curation.sampleClusterBalanced(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val minC = rows.map(_._2).min
    rows.foreach { case (cl, n, m, cutoff, kept) =>
      assert(m == minC, s"cluster $cl min mismatch")
      if (n == m) assert(cutoff == 65536L && kept == n,
        s"smallest cluster $cl must keep everything")
      else assert(kept <= n)
    }
    // membership is recomputable row-by-row from ids alone: replay the
    // md5-prefix rule on the driver and reproduce every kept count
    val assign = Curation.assignClusters(spark, sfDir)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val cutoffs = rows.map(r => r._1 -> r._4).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val replay = assign.filter { case (id, cl) =>
      cutoffs(cl) >= 65536L || md5hex(id.toString).take(4) < f"${cutoffs(cl)}%04x"
    }.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach { case (cl, _, _, _, kept) =>
      assert(replay.getOrElse(cl, 0L) == kept, s"cluster $cl membership replay")
    }
  }

  test("frozen semantic quantizer: batches assign against the stored model, no drift") {
    val qdir = java.nio.file.Files
      .createTempDirectory("graft-semq").resolve("q").toString
    Curation.writeSemanticQuantizer(spark, sfDir, qdir)
    val frozen = Curation.readSemanticQuantizer(spark, qdir)
    assert(frozen.length == Curation.NumCentroids && frozen.head.length == 64)
    // the frozen-apply path gives the registered query's exact rows
    // (deterministic Lloyd's: cached quantizer == retrained quantizer)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val viaFrozen = Curation.dedupSemanticFrozen(spark, sfDir, qdir)
      .collect().map(key)
    val viaQuery = Curation.dedupSemanticKmeans(spark, sfDir).collect().map(key)
    assert(viaFrozen.sameElements(viaQuery))
    // a new batch assigns under the FROZEN centroids: the stored model
    // is byte-identical after the batch, and the batch's clusters equal
    // a driver-side nearest-centroid check against the pre-batch model
    val batch = graft.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id" + 1000000L,
        $"embedding".cast("array<double>"))
      .toDF("vec_id", "e").limit(20)
    val got = Curation.assignBatchFrozen(batch, qdir)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = Curation.readSemanticQuantizer(spark, qdir)
    assert(after.length == frozen.length &&
      after.indices.forall(i => after(i).sameElements(frozen(i))),
      "batch assignment must not move the frozen centroids")
    batch.collect().foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Double](1).toArray
      val expected = frozen.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (a, b) => (b - a) * (b - a) }.sum, i)
      }.min._2.toLong
      assert(got(id) == expected, s"batch vec $id must use the frozen model")
    }
  }

  test("representatives: one per component, longest doc wins, sizes add up") {
    val comp = Dedup.connectedComponents(Dedup.dedupMinhashLsh(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val chars = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byComp = comp.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1) }
    val got = Curation.dedupRepresentatives(spark, sfDir).collect()
    assert(got.map(_.getLong(0)).toSet == byComp.keySet)
    got.foreach { r =>
      val members = byComp(r.getLong(0))
      assert(r.getLong(1) == members.length, "n_members")
      val best = members.map(id => (-chars(id), id)).min._2
      assert(r.getLong(2) == best, s"component ${r.getLong(0)} representative")
      assert(r.getLong(3) == chars(best))
    }
    assert(got.map(_.getLong(1)).sum == comp.length)
  }

  test("semantic quantizer cache: in-place corpus rewrite retrains, identical corpus hits") {
    val work = java.nio.file.Files.createTempDirectory("graft-quantcache").toString
    // same path, same vec_ids, same row count across rewrites — only the
    // embedding VALUES change, the exact case a path-keyed cache misses
    def writeCorpus(seed: Int): Unit =
      (0 until 40).map { i =>
        val r = new scala.util.Random(seed * 1000 + i)
        (i.toLong, Array.fill(8)(r.nextFloat()))
      }.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    writeCorpus(1)
    val fp1 = ArtifactStore.fingerprint(spark, work, "embeddings")
    assert(ArtifactStore.fingerprint(spark, work, "embeddings") == fp1,
      "fingerprint is deterministic over an unchanged corpus")
    val p1 = ArtifactStore.pathOf("semquant", "_k4", work, fp1)
    Curation.dedupSemanticKmeans(spark, work, k = 4)
    val success1 = new java.io.File(s"$p1/${ArtifactStore.Marker}")
    assert(success1.exists(), "first invocation trains and publishes the quantizer")
    val mtime1 = success1.lastModified()
    Curation.dedupSemanticKmeans(spark, work, k = 4)
    assert(success1.lastModified() == mtime1,
      "unchanged corpus must hit the cache, not retrain")
    writeCorpus(2)
    val fp2 = ArtifactStore.fingerprint(spark, work, "embeddings")
    assert(fp2 != fp1,
      "a content rewrite shifts the fingerprint even with identical ids and row count")
    val p2 = ArtifactStore.pathOf("semquant", "_k4", work, fp2)
    assert(p2 != p1)
    Curation.dedupSemanticKmeans(spark, work, k = 4)
    assert(new java.io.File(s"$p2/${ArtifactStore.Marker}").exists(),
      "rewritten corpus must retrain under the new fingerprint key")
  }

  test("corpus fingerprint shifts on a LABEL-only rewrite (frozen-IVF staleness, r15 ADVICE)") {
    val work = java.nio.file.Files.createTempDirectory("graft-fplabel").toString
    // identical vec_ids and embeddings across the two writes — only the
    // label column changes, the exact case the r15 (vec_id, embedding)
    // fingerprint missed: coarse IVF cells derive from label, so a
    // stale cache here serves wrong cells while looking fresh
    def writeCorpus(labelShift: Long): Unit =
      (0 until 40).map { i =>
        val r = new scala.util.Random(7000 + i)
        (i.toLong, (i % 4).toLong + labelShift, Array.fill(8)(r.nextFloat()))
      }.toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    // the documents table rides the same fingerprint (BPE merges, char
    // LM): identical doc_id and text, only the source column changes
    def writeDocs(source: String): Unit =
      (0 until 20).map(i => (i.toLong, s"doc $i text", source))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$work/documents.parquet")
    writeCorpus(0)
    writeDocs("a")
    val fp1 = ArtifactStore.fingerprint(spark, work, "embeddings")
    val dfp1 = ArtifactStore.fingerprint(spark, work, "documents")
    assert(ArtifactStore.fingerprint(spark, work, "embeddings") == fp1)
    assert(ArtifactStore.fingerprint(spark, work, "documents") == dfp1)
    writeCorpus(1)
    assert(ArtifactStore.fingerprint(spark, work, "embeddings") != fp1,
      "a label-only rewrite must shift the fingerprint")
    writeDocs("b")
    assert(ArtifactStore.fingerprint(spark, work, "documents") != dfp1,
      "a source-only documents rewrite must shift the fingerprint")
  }

  // ---- ScalaCheck: broadcast-kernel and join removal paths agree ----

  private def forAllSampled[T](gen: org.scalacheck.Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }

  test("ScalaCheck: cleanChunksJoin == cleanChunks on adversarially overlapping corpora") {
    import org.scalacheck.Gen
    // tiny vocabulary → the same chunk text recurs across and WITHIN
    // documents (repeat occurrences at different chunk_idx are the join
    // path's hard case), and whole documents collapse to all-boilerplate
    val vocab = Vector("aa", "bb", "cc", "dd")
    val genDoc = for {
      n <- Gen.choose(0, 40)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCase = for {
      nDocs <- Gen.choose(3, 10)
      texts <- Gen.listOfN(nDocs, genDoc)
      width <- Gen.oneOf(1, 2, 3, 8)
    } yield (texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }, width)
    forAllSampled(genCase, n = 8) { case (docsSeq, width) =>
      val docs = docsSeq.toDF("doc_id", "text")
      val freqDf = Curation.frequentChunkHashes(docs, width, minDocs = 2)
        .localCheckpoint(eager = true)
      val freqSet = freqDf.collect().map(_.getString(0)).toSet
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val viaKernel = Curation.cleanChunks(docs, freqSet, width)
        .collect().map(key).sortBy(_._1).toSeq
      val viaJoin = Curation.cleanChunksJoin(docs, freqDf, width)
        .collect().map(key).sortBy(_._1).toSeq
      assert(viaKernel == viaJoin,
        s"paths diverged at width=$width:\n kernel=$viaKernel\n join=$viaJoin")
    }
  }

  test("chunk kernels chunk exactly as chunksOf, also around control chars") {
    // chars ≤ U+0020 that are not \s stay inside a token in chunksOf;
    // Java's trim would strip them at the ends of a document
    val docs = Seq(
      (1L, "\u0001a b c"), (2L, "a b c\u001f"), (3L, " \u0001 "),
      (4L, "\u001fa\u0001 b\tc d"), (5L, "x y z w"), (6L, ""), (7L, "   "))
      .toDF("doc_id", "text")
    val want = docs.select($"doc_id", Curation.chunksOf($"text", 2).as("cs"))
      .select($"doc_id", size($"cs").cast("long"), concat_ws(" ", $"cs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(want.filter(_._1 >= 6L) == Set((6L, 0L, ""), (7L, 0L, "")),
      "a document with no tokens has no chunks")
    val got = Curation.cleanChunks(docs, Set.empty, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSet
    // a chunkless document has no clean row
    assert(got == want.filter(_._2 > 0L))
  }

  test("dsir top-k: per-source argmax of the exact importance score, ties to low id") {
    val got = Curation.sampleDsirTopK(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // rank sequences are 1..n per source, scores non-increasing
    got.groupBy(_._1).foreach { case (src, rows) =>
      val byRk = rows.sortBy(_._2)
      assert(byRk.map(_._2).toSeq == (1L to byRk.length.toLong),
        s"$src ranks ${byRk.map(_._2).toSeq}")
      byRk.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
            s"$src order violated: $a then $b")
        case _ => ()
      }
      assert(byRk.length <= Curation.DsirPerSource)
    }
    // membership = naive top-n over the full scored table
    val docsSrc = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scored = Curation.taImportance(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val want = scored.groupBy(p => docsSrc(p._1)).toSeq.flatMap { case (src, xs) =>
      xs.sortBy { case (id, sc) => (-sc, id) }.take(Curation.DsirPerSource)
        .zipWithIndex
        .map { case ((id, sc), i) => (src, (i + 1).toLong, id, sc) }
    }.sortBy(p => (p._1, p._2))
    assert(got.toSeq.sortBy(p => (p._1, p._2)) == want)
  }

  test("char-LM fingerprint cache: hits are bit-identical to a fresh retrain") {
    val docs = graft.Tables.t(spark, sfDir, "documents").select($"doc_id", $"text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val fresh = Curation.scoreCharLmMicro(docs, Curation.trainCharLm(docs))
      .collect().map(key).toSeq
    val first = Curation.taCharLm(spark, sfDir).collect().map(key).toSeq
    val hit = Curation.taCharLm(spark, sfDir).collect().map(key).toSeq
    assert(first == fresh && hit == fresh,
      "cached model must reproduce the fresh retrain exactly")
  }

  test("mwu step: underweighted-long source gains share, weights renormalize") {
    val s = spark
    import s.implicits._
    // A: mean 10, B: mean 30; corpus mean 20 -> excess -0.5 / +0.5;
    // eta 0.5 -> raw 0.5*0.75 / 0.5*1.25 -> renormalized 0.375 / 0.625
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "b", 30L), (4L, "b", 30L))
      .toDF("doc_id", "source", "n_chars")
    val got = Curation.mixMwuStepOf(docs, eta = 0.5).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("a", 0.5, -0.5, 0.375), ("b", 0.5, 0.5, 0.625)))
    // the next-step mixture is a distribution
    assert(got.map(_._4).sum == 1.0)
  }

  test("charlm buckets: decile histogram conserves the corpus and stays near-uniform") {
    val got = Curation.taCharLmBuckets(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nScored = Curation.taCharLm(spark, sfDir).count()
    assert(got.map(_._2).sum == nScored, "every scored doc lands in exactly one bucket")
    assert(got.forall { case (b, _) => b >= 0L && b <= 9L })
    // inclusive-rank deciles over near-distinct micro scores: all 10
    // buckets present, none collapses or balloons past 2x its share
    assert(got.length >= 8, s"buckets missing: ${got.toSeq}")
    assert(got.forall(_._2 <= nScored / 5 + 2), s"skewed buckets: ${got.toSeq}")
  }
}
