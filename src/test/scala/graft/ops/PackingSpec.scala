package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("pack_sequences: slices tile the token stream exactly, in order") {
    val rows = Packing.packSequences(spark, sfDir, seqLen = 128L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every slice is non-empty and inside its doc
    rows.foreach { case (_, _, from, to) => assert(from >= 0 && from < to) }
    // per-doc slices are contiguous: cover [0, n) with no gap/overlap
    val docTokens = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .filter($"n" > 0L).as[(Long, Long)].collect().toMap
    rows.groupBy(_._1).foreach { case (doc, slices) =>
      val sorted = slices.sortBy(_._2)
      assert(sorted.head._3 == 0L, s"doc $doc must start at token 0")
      assert(sorted.last._4 == docTokens(doc), s"doc $doc must end at n_tokens")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"doc $doc slices must be contiguous")
          assert(a._2 + 1 == b._2, s"doc $doc must span consecutive seqs")
        case _ => ()
      }
    }
    // global: every sequence except the last carries exactly seqLen tokens
    val perSeq = rows.groupBy(_._2).view
      .mapValues(_.map(s => s._4 - s._3).sum).toMap
    val lastSeq = perSeq.keys.max
    perSeq.foreach { case (seq, tot) =>
      if (seq != lastSeq) assert(tot == 128L, s"seq $seq must be full")
      else assert(tot > 0L && tot <= 128L)
    }
    // deterministic: a second evaluation (fresh plan) is identical
    val again = Packing.packSequences(spark, sfDir, seqLen = 128L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.sorted.sameElements(again.sorted))
  }

  test("pack_sequences: partition-count independent (prefix sum is exact)") {
    val a = Packing.packSequences(spark, sfDir, seqLen = 256L, partitions = 2)
      .collect().map(_.toSeq).toSeq
    val b = Packing.packSequences(spark, sfDir, seqLen = 256L, partitions = 16)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "layout must not depend on the physical partitioning")
  }

  test("ScalaCheck: packSequences tiles any corpus exactly under any partitioning") {
    import org.scalacheck.Gen
    import org.apache.spark.sql.functions._
    val genCase = for {
      nDocs <- Gen.choose(1, 60)
      lens <- Gen.listOfN(nDocs, Gen.choose(1L, 40L))
      seqLen <- Gen.oneOf(1L, 7L, 32L, 1000L)
      parts <- Gen.oneOf(1, 3, 8)
    } yield (lens.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) }, seqLen, parts)
    (0 until 10).foreach { seed =>
      genCase.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed.toLong)).foreach { case (docs, seqLen, parts) =>
        val rows = Packing.packSequencesOf(docs.toDS(), seqLen, parts).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // reference: sequential scan of the doc_id-ordered token stream
        var off = 0L
        val want = docs.flatMap { case (id, n) =>
          val start = off; off += n
          (start / seqLen to (start + n - 1) / seqLen).map { sq =>
            (id, sq, math.max(0L, sq * seqLen - start),
              math.min(n, (sq + 1) * seqLen - start))
          }
        }
        assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
          want.sortBy(r => (r._1, r._2)),
          s"seed $seed (seqLen=$seqLen parts=$parts) diverged from the sequential reference")
        // tiling invariants: per-doc slice widths sum to n; no overlap
        val widths = rows.groupBy(_._1).view
          .mapValues(_.map(r => r._4 - r._3).sum).toMap
        assert(docs.forall { case (id, n) => widths(id) == n },
          s"seed $seed: slices must cover each doc exactly once")
      }
    }
  }

  test("pack_chunks: stride/overlap contract") {
    val rows = Packing.packChunks(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_._2)
      assert(sorted.head._3 == 0L)
      sorted.zipWithIndex.foreach { case ((_, cid, from, to), i) =>
        assert(cid == i.toLong)
        assert(from == i * Packing.ChunkStride)
        assert(to - from <= Packing.ChunkLen && to > from)
      }
      // consecutive chunks overlap by ChunkOverlap (when not truncated)
      sorted.sliding(2).foreach {
        case Array(a, b) if a._4 - a._3 == Packing.ChunkLen =>
          assert(a._4 - b._3 == Packing.ChunkOverlap)
        case _ => ()
      }
      assert(doc >= 0)
    }
  }

  test("pack_shards: serpentine deal conserves mass, covers all shards, stays balanced") {
    import spark.implicits._
    val got = Packing.packShards(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == (0L until Packing.ShardCount.toLong),
      "every shard id present, in order")
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select(TextAnalysis.tokenCount($"text").as("n")).filter($"n" > 0L)
      .localCheckpoint(true)
    assert(got.map(_._2).sum == docs.count(), "every doc dealt exactly once")
    assert(got.map(_._3).sum == docs.agg(sum($"n")).head.getLong(0),
      "token mass conserved")
    // serpentine bound: block k deals desc, block k+1 asc, so shard
    // totals stay within a couple of max-doc sizes of each other
    val maxDoc = docs.agg(max($"n")).head.getLong(0)
    val spread = got.map(_._3).max - got.map(_._3).min
    assert(spread <= 2 * maxDoc, s"imbalance $spread vs max doc $maxDoc")
    // partition-independence: a different layout deals identically
    val again = Packing.packShards(spark, sfDir, partitions = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == got.toSeq)
  }

  private def forAllSampled[T](gen: org.scalacheck.Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }

  test("ScalaCheck: histogram BFD solve equals the naive per-item replay") {
    import org.scalacheck.Gen
    val L = 64L
    val genItems = for {
      n <- Gen.choose(1, 120)
      lens <- Gen.listOfN(n, Gen.choose(1L, L))
    } yield lens.zipWithIndex.map { case (len, i) => (i.toLong, len) }
    forAllSampled(genItems, 60) { items =>
      val naive = Packing.bfdNaive(items, L)
      // histogram solve + rank arithmetic, replayed without Spark
      val hist = items.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      val segs = Packing.bfdHistogram(hist, L)
      val got = items.groupBy(_._2).flatMap { case (len, its) =>
        val ranked = its.map(_._1).sorted.zipWithIndex
        ranked.map { case (id, rank) =>
          val seg = segs.find(sg => sg.len == len && rank >= sg.rankFrom &&
            rank < sg.rankFrom + sg.nBins * sg.perBin).get
          id -> (seg.firstBin + (rank - seg.rankFrom) / seg.perBin)
        }
      }
      assert(got == naive, s"histogram BFD diverged on ${items.take(8)}…")
      // invariants: no bin over capacity, bin count within BFD bounds
      val binLoads = items.map { case (id, len) => (got(id), len) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      assert(binLoads.values.forall(_ <= L), "bin over capacity")
      val total = items.map(_._2).sum
      assert(binLoads.size >= (total + L - 1) / L, "fewer bins than lower bound")
    }
  }

  test("pack_bfd: every doc packed once, bins under capacity, equals naive") {
    val got = Packing.packBfd(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id",
        least(TextAnalysis.tokenCount($"text"), lit(Packing.BfdLen)).as("n"))
      .filter($"n" > 0L).as[(Long, Long)].collect()
    assert(got.map(_._1).distinct.length == docs.length, "one row per doc")
    val naive = Packing.bfdNaive(docs.toSeq, Packing.BfdLen)
    got.foreach { case (id, _, bin) =>
      assert(naive(id) == bin, s"doc $id bin mismatch vs naive replay")
    }
    val loads = got.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    assert(loads.values.forall(_ <= Packing.BfdLen))
  }
  test("budget curve: hand-computed sweep; invariants hold on the corpus") {
    // token counts 10 / 300 / 600: at L=256 → 2 truncated,
    // lost (300-256)+(600-256)=388, kept 10+256+256=522,
    // bins ceil(522/256)=3, pad 768-522=246; at L=1024 → nothing
    // truncated, kept 910, 1 bin, pad 114
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words(10)), (2L, words(300)), (3L, words(600)),
      (4L, " "))
      .toDF("doc_id", "text")
    val got = Packing.packBudgetCurveOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(got(256L) == ((2L, 388L, 522L, 3L, 246L, 522.0 / 768.0)))
    assert(got(1024L) == ((0L, 0L, 910L, 1L, 114L, 910.0 / 1024.0)))
    // corpus invariants: pad is always a sub-bin tail; truncation loss
    // and truncated-doc count are non-increasing in the budget; kept +
    // lost reconciles to the constant corpus token mass
    val rows = Packing.packBudgetCurve(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Packing.BudgetCurveLengths)
    rows.foreach { case (l, _, _, kept, bins, pad) =>
      assert(pad >= 0L && pad < l, s"pad $pad outside [0, $l)")
      assert(bins * l == kept + pad)
    }
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.reverse.toSeq,
      "n_docs_truncated must be non-increasing in the budget")
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.reverse.toSeq,
      "tokens_lost must be non-increasing in the budget")
    val mass = rows.map(r => r._3 + r._4).distinct
    assert(mass.size == 1, s"kept+lost must be budget-invariant: $mass")
  }
}

class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  test("decon_pairs: finds planted eval/train near-dup overlap; sides disjoint") {
    val pairs = Decontamination.contaminationPairs(spark, sfDir).collect()
    val evalIds = graft.Tables.t(spark, sfDir, "documents")
      .filter(md5($"doc_id".cast("string")) >= Decontamination.EvalLower)
      .select($"doc_id").as[Long].collect().toSet
    pairs.foreach { r =>
      assert(!evalIds.contains(r.getLong(0)), "train side must exclude eval docs")
      assert(evalIds.contains(r.getLong(1)), "eval side must be eval docs")
      assert(r.getLong(2) >= Decontamination.MinShared)
    }
    // the sf corpus has near-dup clusters; some straddle the 3% hash tail
    // only by chance — so assert on report consistency instead of nonEmpty
    val report = Decontamination.contaminationReport(spark, sfDir).collect()
    val byEval = pairs.groupBy(_.getLong(1))
    assert(report.length == byEval.size)
    report.foreach { r =>
      val ps = byEval(r.getLong(0))
      assert(r.getLong(1) == ps.length.toLong)
      assert(r.getLong(2) == ps.map(_.getLong(2)).max)
      assert(r.getLong(3) == ps.map(_.getLong(2)).sum)
    }
  }

  test("decon_smear_report: hard vs char_verbatim vs smeared on planted fixtures; consistent with decon_pairs + decon_winnow") {
    // corpus-level consistency first: class follows the evidence
    // hierarchy (13-gram > winnow > trigram), every row clears one of
    // the three gates, the trigram mass of flagged pairs matches the
    // standalone 3-gram sweep, and the winnow mass matches the
    // standalone char-level sweep
    val rows = Decontamination.deconSmearReport(spark, sfDir).collect()
    rows.foreach { r =>
      val (n3, n13, nw, st) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))
      val expSt =
        if (n13 >= 1L) "hard"
        else if (nw >= Decontamination.MinShared) "char_verbatim"
        else "smeared"
      assert(st == expSt, s"class/evidence mismatch: $r")
      assert(n3 >= Decontamination.MinShared || n13 >= 1L ||
        nw >= Decontamination.MinShared)
    }
    val pairs3 = Decontamination.contaminationPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.filter(_.getLong(2) >= Decontamination.MinShared).foreach { r =>
      assert(pairs3.get((r.getLong(0), r.getLong(1))).contains(r.getLong(2)),
        "trigram mass must equal the standalone 3-gram sweep")
    }
    val pairsW = Decontamination.deconWinnow(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.filter(_.getLong(4) >= Decontamination.MinShared).foreach { r =>
      assert(pairsW.get((r.getLong(0), r.getLong(1))).contains(r.getLong(4)),
        "winnow mass must equal the standalone char-level sweep")
    }
    // planted fixtures: a verbatim 13-word run (hard) vs scattered
    // trigram overlap that never completes a 13-gram (smeared)
    val hashOf = (id: Long) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val evalId = (0L until 200L).find(hashOf(_) >= "f8").get
    val trainIds = (0L until 200L).filter(hashOf(_) < "f8")
    val (hardId, smearId, cleanId) =
      (trainIds(0), trainIds(1), trainIds(2))
    val ew = (1 to 20).map(i => s"e$i")
    val evalText = ew.mkString(" ")
    val hardText = "pad1 pad2 " + ew.take(13).mkString(" ") + " pad3"
    val smearText = Seq(ew(0), ew(1), ew(2), "qq", ew(4), ew(5), ew(6),
      "rr", ew(8), ew(9), ew(10)).mkString(" ")
    val cleanText = (1 to 15).map(i => s"c$i").mkString(" ")
    val work = java.nio.file.Files.createTempDirectory("graft-smear").toString
    Seq((evalId, evalText), (hardId, hardText), (smearId, smearText),
        (cleanId, cleanText))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    val got = Decontamination.deconSmearReport(spark, work).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
      .toMap
    // expected char-channel evidence straight from the kernel (the
    // planted texts share short verbatim char runs — e.g. smearText's
    // " e9 e10 e11" tail is an 11-char run the winnow guarantee
    // covers — so the char width legitimately co-fires; the single
    // eval doc means no fingerprint can exceed the eval df cap)
    val wfp = Map(
      hardId -> graft.ops.TextAnalysis.winnow(hardText).toSet,
      smearId -> graft.ops.TextAnalysis.winnow(smearText).toSet,
      cleanId -> graft.ops.TextAnalysis.winnow(cleanText).toSet)
    val evFp = graft.ops.TextAnalysis.winnow(evalText).toSet
    val nwOf = (id: Long) => (wfp(id) & evFp).size.toLong
    assert(nwOf(cleanId) < Decontamination.MinShared,
      "fixture sanity: the clean doc must not share char evidence")
    assert(got.keySet == Set(hardId, smearId), s"flagged: ${got.keySet}")
    val (h3, h13, hw, hst) = got(hardId)
    assert(hst == "hard" && h13 == 1L && h3 == 11L && hw == nwOf(hardId),
      s"verbatim 13-run must class hard with 11 shared trigrams: $got")
    val (s3, s13, sw, sst) = got(smearId)
    val expSmearSt =
      if (nwOf(smearId) >= Decontamination.MinShared) "char_verbatim"
      else "smeared"
    assert(sst == expSmearSt && s13 == 0L && s3 == 3L && sw == nwOf(smearId),
      s"scattered trigrams must class $expSmearSt: $got")
  }

  test("decon_source_report: per-source attribution reconciles with decon_pairs; clean sources appear with share 0") {
    import spark.implicits._
    val rows = Decontamination.deconSourceReport(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6)))).toMap
    // every source of the training split appears — contaminated or not
    val hashOf = (id: Long) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val trainSrcOf = docs
      .filter(d => hashOf(d._1) < Decontamination.EvalLower).toMap
    val wantDocs = trainSrcOf.values.groupBy(identity)
      .map { case (s, xs) => s -> xs.size.toLong }
    assert(rows.keySet == wantDocs.keySet, "every training source must appear")
    rows.foreach { case (src, (nDocs, nCont, _, _, _, share)) =>
      assert(nDocs == wantDocs(src), s"$src corpus size")
      assert(share == nCont.toDouble / nDocs.toDouble)
    }
    // pair/shingle mass reconciles with the standalone pair sweep,
    // attributed through each train doc's source
    val pairs = Decontamination.contaminationPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bySrc = pairs.groupBy(p => trainSrcOf(p._1))
    bySrc.foreach { case (src, ps) =>
      val (_, nCont, nPairs, nEval, totShared, _) = rows(src)
      assert(nCont == ps.map(_._1).distinct.size.toLong, s"$src n_contaminated")
      assert(nPairs == ps.size.toLong, s"$src n_pairs")
      assert(nEval == ps.map(_._2).distinct.size.toLong, s"$src n_eval_docs")
      assert(totShared == ps.map(_._3).sum, s"$src total_shared")
    }
    rows.filterNot { case (src, _) => bySrc.contains(src) }
      .foreach { case (src, (_, nCont, nPairs, nEval, totShared, share)) =>
        assert((nCont, nPairs, nEval, totShared, share) ==
          ((0L, 0L, 0L, 0L, 0.0)), s"clean source $src must read all-zero")
      }
  }

  test("decon_winnow: matches an in-JVM brute-force winnow probe at the corpus") {
    // ground truth recomputed directly from the kernel: per-doc winnow
    // fingerprint sets, eval-side df cap, pairwise distinct-shared
    // counts at the MinShared tier — the distributed plan must
    // reproduce it exactly
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val hashOf = (id: Long) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val fps = docs.map { case (id, t) =>
      id -> graft.ops.TextAnalysis.winnow(t).toSet
    }.toMap
    val (evalIds, trainIds) = docs.map(_._1)
      .partition(hashOf(_) >= Decontamination.EvalLower)
    val evDf = evalIds.flatMap(fps(_)).groupBy(identity)
      .map { case (fp, xs) => fp -> xs.length }
    val hot = evDf.filter(_._2 > Decontamination.WinnowEvalMaxDf).keySet
    val want = (for {
      tr <- trainIds; ev <- evalIds
      n = ((fps(tr) & fps(ev)) -- hot).size.toLong
      if n >= Decontamination.MinShared
    } yield (tr, ev, n)).sorted.toSeq
    val got = Decontamination.deconWinnow(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"winnow probe diverged: got ${got.length} pairs, " +
      s"want ${want.length}")
  }

  test("decon_winnow_curve: per-tier counts equal brute recomputation from tier-1 pairs") {
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val isEval = md5($"doc_id".cast("string")) >= Decontamination.EvalLower
    val pairs = Decontamination.deconWinnowOf(
        docs.filter(!isEval), docs.filter(isEval), minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = Decontamination.deconWinnowCurve(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Decontamination.TierCurveTiers,
      s"tier rows must cover the dyadic grid: ${got.toSeq}")
    got.foreach { case (t, nP, nTr, nEv) =>
      val hit = pairs.filter(_._3 >= t)
      assert(nP == hit.length.toLong, s"tier $t pair count")
      assert(nTr == hit.map(_._1).distinct.length.toLong, s"tier $t train count")
      assert(nEv == hit.map(_._2).distinct.length.toLong, s"tier $t eval count")
    }
    // the curve is monotone non-increasing in the tier
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
  }

  test("decon_winnow_report: per-eval rollup is consistent with the pair sweep") {
    val pairs = Decontamination.deconWinnow(spark, sfDir).collect()
    val report = Decontamination.deconWinnowReport(spark, sfDir).collect()
    val byEval = pairs.groupBy(_.getLong(1))
    assert(report.length == byEval.size)
    report.foreach { r =>
      val ps = byEval(r.getLong(0))
      assert(r.getLong(1) == ps.length.toLong)
      assert(r.getLong(2) == ps.map(_.getLong(2)).max)
      assert(r.getLong(3) == ps.map(_.getLong(2)).sum)
    }
  }

  test("decon_winnow: planted 11+ char leak flags; eval boilerplate is df-capped out") {
    val hashOf = (id: Long) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val ids = 0L until 5000L
    // 21 eval docs — one over the df cap — all sharing a boilerplate
    // run, each with unique filler; one eval doc additionally carries a
    // distinctive sentence
    val evalIds = ids.filter(hashOf(_) >= Decontamination.EvalLower)
      .take(Decontamination.WinnowEvalMaxDf.toInt + 1)
    val trainIds = ids.filter(hashOf(_) < Decontamination.EvalLower)
    val boiler = "standard benchmark license header text common to every item"
    val secret = "zylophant quartzite embrasure dirigible mnemonic overture"
    val evalRows = evalIds.zipWithIndex.map { case (id, i) =>
      val extra = if (i == 0) s" $secret" else ""
      (id, s"unique filler u${i}a u${i}b u${i}c $boiler$extra")
    }
    val (leakId, cleanBoilerId) = (trainIds(0), trainIds(1))
    val rows = evalRows ++ Seq(
      (leakId, s"surrounding words $secret more surrounding words"),
      (cleanBoilerId, s"different document carrying only $boiler here"))
    val work = java.nio.file.Files.createTempDirectory("graft-dwin").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    val got = Decontamination.deconWinnow(spark, work).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((leakId, evalIds(0))),
      s"verbatim character leak must flag: $got")
    assert(!got.exists(_._1 == cleanBoilerId),
      s"boilerplate-only overlap must be df-capped out: $got")
  }

  test("decon_pairs: a planted benchmark leak is caught end-to-end") {
    // build a tiny corpus-shaped frame where train doc 1 contains eval
    // doc's exact text (verbatim leak) and train doc 2 is clean;
    // md5-eval membership is induced by choosing ids whose hash lands
    // in/out of the f8 tail: find them by probing.
    val hashOf = (id: Long) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val evalId = (0L until 200L).find(hashOf(_) >= "f8").get
    val trainLeak = (0L until 200L).find(hashOf(_) < "f8").get
    val trainClean = (0L until 200L).find(i => hashOf(i) < "f8" && i != trainLeak).get
    val leakText = "the quick brown fox jumps over the lazy dog again and again"
    val work = java.nio.file.Files.createTempDirectory("graft-decon")
    Seq(
      (evalId, leakText, "en", "bench", leakText.length.toLong),
      (trainLeak, s"prefix words $leakText suffix words", "en", "crawl",
        leakText.length.toLong),
      (trainClean, "completely unrelated content about ships and harbors and tides",
        "en", "crawl", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    val found = Decontamination.contaminationPairs(spark, work.toString).collect()
    assert(found.exists(r => r.getLong(0) == trainLeak && r.getLong(1) == evalId),
      "verbatim leak must be flagged")
    assert(!found.exists(r => r.getLong(0) == trainClean), "clean doc must pass")
  }

  test("decon_semantic: a planted paraphrase (same embedding) is caught; orthogonal passes") {
    // the semantic gate exists for leaks the n-gram sweep can't see:
    // identical/near-identical EMBEDDINGS with no shared words. Plant a
    // train vector parallel to the eval vector (scaled — cosine is
    // scale-invariant) and an orthogonal clean one.
    val dim = 64
    val evalVec = Array.tabulate(dim)(i => math.sin(i + 1.0))
    val paraphrase = evalVec.map(_ * 2.5) // parallel: cosine exactly 1.0
    val orthogonal = Array.tabulate(dim)(i => if (i % 2 == 0) evalVec(i + 1) else -evalVec(i - 1))
    val train = Seq((1L, paraphrase.toSeq), (2L, orthogonal.toSeq)).toDF("vec_id", "v")
    val ev = Seq((900L, evalVec.toSeq)).toDF("vec_id", "v")
    val got = Decontamination.deconSemanticOf(train, ev, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.exists(t => t._1 == 1L && t._2 == 900L && t._3 > 0.999999),
      s"parallel embedding must be flagged: ${got.toSeq}")
    assert(!got.exists(_._1 == 2L), "orthogonal embedding must pass")
    // registered form: sides are disjoint md5 splits and every pair
    // clears the threshold
    val rows = Decontamination.deconSemantic(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val hashOf = (id: Long) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    rows.foreach { case (tid, eid, c) =>
      assert(hashOf(tid) < Decontamination.EvalLower, "train side is train")
      assert(hashOf(eid) >= Decontamination.EvalLower, "eval side is eval")
      assert(c >= Decontamination.SemThreshold)
    }
    assert(rows.nonEmpty, "sf corpus must produce semantic candidates")
  }

  test("decon: frozen eval shingles probe batches like the inline form") {
    val leakText = "the quick brown fox jumps over the lazy dog again and again"
    val evalDocs = Seq((900L, leakText)).toDF("doc_id", "text")
    // freeze the benchmark's shingles once; batches probe the stored
    // table without re-reading benchmark text
    val path = java.nio.file.Files
      .createTempDirectory("graft-evalsh").resolve("sh").toString
    Decontamination.writeEvalShingles(evalDocs, path)
    val batch = Seq(
      (1L, s"intro $leakText outro"),
      (2L, "wholly unrelated material on rivers and bridges and stones"))
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val viaFrozen = Decontamination
      .contaminationAgainst(batch, spark.read.parquet(path))
      .collect().map(key)
    val inline = Decontamination.contaminationPairsOf(batch, evalDocs)
      .collect().map(key)
    assert(viaFrozen.sameElements(inline), "frozen probe must equal inline")
    assert(viaFrozen.exists(r => r._1 == 1L && r._2 == 900L), "leak flagged")
    assert(!viaFrozen.exists(_._1 == 2L), "clean batch doc passes")
  }

  test("decon minhash: equals the full-corpus LSH pairs restricted to cross-split") {
    def isEval(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hx = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      hx >= Decontamination.EvalLower
    }
    val got = Decontamination.deconMinhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    got.foreach { case (e, t, j) =>
      assert(isEval(e) && !isEval(t), s"($e,$t) violates the split")
      assert(j >= Decontamination.MinhashThreshold)
    }
    // the cross-split slice of the full-corpus near-dup pass is the truth
    val cross = Dedup.dedupMinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (isEval(a) && !isEval(b)) Some((a, b, j))
        else if (isEval(b) && !isEval(a)) Some((b, a, j))
        else None
      }.toSet
    assert(got == cross,
      s"cross-corpus sweep must equal the full pass's cross-split pairs")
  }

  test("bfd offsets: contiguous per-bin layout, fill within capacity, matches assignment") {
    val asg = Packing.packBfd(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rows = Packing.packBfdOffsets(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty && rows.length == asg.size)
    rows.foreach { case (bin, _, doc, _, _) =>
      assert(asg(doc) == bin, s"doc $doc offsets bin $bin != packBfd ${asg(doc)}")
    }
    rows.groupBy(_._1).foreach { case (bin, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"bin $bin positions not contiguous")
      // offsets tile the window: start_1 = 0, start_{i+1} = start_i + len_i
      var expect = 0L
      sorted.foreach { case (_, _, _, start, len) =>
        assert(start == expect, s"bin $bin: start $start != $expect")
        expect = start + len
      }
      assert(expect <= graft.ops.Packing.BfdLen, s"bin $bin overfilled: $expect")
      // arrival order within a bin is the global BFD order: len desc, id asc
      val order = sorted.map(r => (-r._5, r._3))
      assert(order.toSeq == order.sortBy(identity).toSeq,
        s"bin $bin not in BFD arrival order")
    }
  }

  test("epoch order: epochs conserve the corpus but permute it; recomputable") {
    val got = Packing.packEpochOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val epochs = got.map(_._1).distinct.sorted
    assert(epochs.toSeq == (1L to Packing.EpochOrderEpochs).toSeq)
    // every epoch holds the whole corpus (same doc and token mass)
    val perEpoch = got.groupBy(_._1).view
      .mapValues(rs => (rs.map(_._3).sum, rs.map(_._4).sum)).toMap
    assert(perEpoch.values.toSet.size == 1,
      s"epochs must conserve the corpus: $perEpoch")
    // ...but genuinely permute it: shard leaders differ across epochs
    val leaders = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._5).toSeq).toMap
    assert(leaders.values.toSet.size > 1,
      "per-epoch hash must produce different orders")
    // deterministic: a rerun reproduces the summary exactly
    val again = Packing.packEpochOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(again.toSeq == got.toSeq)
  }

  test("bucket waste: hand-computed buckets, windows, and waste") {
    // token counts: 10 -> bucket 16 (waste 6), 16 -> 16 (waste 0),
    // 100 -> 128 (waste 28), 5000 -> cap 4096, 2 windows (waste 3192);
    // the empty doc contributes nothing
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(10)), (2L, words(16)), (3L, words(100)),
      (4L, words(5000)), (5L, "   "))
      .toDF("doc_id", "text")
    val got = Packing.packBucketWasteOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      (16L, 2L, 2L, 26L, 32L, 6L, 6.0 / 32),
      (128L, 1L, 1L, 100L, 128L, 28L, 28.0 / 128),
      (4096L, 1L, 2L, 5000L, 8192L, 3192L, 3192.0 / 8192)))
  }
}
