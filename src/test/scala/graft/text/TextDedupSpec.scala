package graft.text

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}
import graft.dedup.{DedupQueries, MinHashLsh}

class TextQueriesSpec extends SparkTestBase {

  test("engine pin: split('', ' ') and tokens('') both yield ['']") {
    import spark.implicits._
    // tokens()'s empty-text branch assumes Spark and DuckDB disagree on
    // splitting '' — pin what THIS Spark actually returns so the
    // assumption is checked, not remembered (r15 advice: verify whether
    // the special case is even live)
    val row = Seq(("", "x y")).toDF("empty", "two")
      .select(split(col("empty"), " ").as("raw"),
        TextQueries.tokens(col("empty")).as("tok"),
        TextQueries.tokens(col("two")).as("tok2"),
        TextQueries.tokens(lit(null).cast("string")).as("tokNull"))
      .head
    assert(row.getSeq[String](0) == Seq(""),
      "split('', ' ') no longer returns [''] — re-audit tokens() and " +
        "every token-derived oracle against DuckDB string_split")
    assert(row.getSeq[String](1) == Seq(""))
    assert(row.getSeq[String](2) == Seq("x", "y"))
    assert(row.get(3) == null)
  }

  test("c5 fingerprint matches a plain-Scala reimplementation") {
    val doc = Tables(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id").head
    val text = doc.getString(1)
    val expected = text.split(" ").foldLeft(0L) { (acc, w) =>
      val th = w.length.toLong * 1009L + w.head.toLong * 31L + w.last.toLong
      (acc * TextQueries.FpB + th) % TextQueries.FpM
    }
    val got = TextQueries.c5Fingerprint(spark, sf)
      .filter(col("doc_id") === doc.getLong(0)).head.getLong(1)
    assert(got == expected)
  }

  test("c37 winnowing guarantee: docs sharing a >= w+k-1 token run share a fingerprint") {
    import spark.implicits._
    // two docs with a common 8-token run (w+k-1 = 7) embedded at
    // different positions inside different surrounding text
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $shared four five"),
      (2L, s"$shared nine ten eleven twelve thirteen fourteen"),
      (3L, "totally different words with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("winnow_docs_v")
    def fps(id: Long) = {
      val d = docs.filter(col("doc_id") === id)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("g", transform(sequence(lit(1), size(col("toks")) - TextQueries.WinnowK + 1),
          i => aggregate(transform(slice(col("toks"), i, lit(TextQueries.WinnowK)),
            TextQueries.tokenHash _),
            lit(0L), (acc, t) => (acc * lit(TextQueries.FpB) + t) % lit(TextQueries.FpM))))
        .withColumn("fps", array_distinct(transform(
          sequence(lit(1), greatest(lit(1), size(col("g")) - TextQueries.WinnowW + 1)),
          i => array_min(slice(col("g"), i, lit(TextQueries.WinnowW))))))
      d.select("fps").head.getSeq[Long](0).toSet
    }
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    assert(fps(1L).intersect(fps(3L)).isEmpty)
  }

  test("c2 token counts: ws_tokens equals split size on single-spaced text") {
    val bad = TextQueries.c2TokenCount(spark, sf)
      .join(Tables(spark, sf, "documents"), "doc_id")
      .filter(col("ws_tokens") =!= size(split(col("text"), " "))).count()
    assert(bad == 0)
  }

  test("c3 micro-ratios live in [0, 1e6]") {
    val q = TextQueries.c3QualityScore(spark, sf)
    assert(q.filter(col("stop_ratio_micro") < 0 || col("stop_ratio_micro") > 1000000).count() == 0)
    assert(q.filter(col("quality_micro") < 0 || col("quality_micro") > 1000000).count() == 0)
  }

  test("c4 lang-id confusion matrix covers every document") {
    val n = TextQueries.c4LangId(spark, sf).agg(sum("n")).head.getLong(0)
    assert(n == Tables(spark, sf, "documents").count())
  }

  test("c14 vocab: df <= tf, df <= corpus size, descending tf order") {
    val v = TextQueries.c14VocabTopk(spark, sf).collect()
    val nDocs = Tables(spark, sf, "documents").count()
    assert(v.nonEmpty && v.length <= TextQueries.VocabTopK)
    assert(v.forall(r => r.getAs[Long]("df") <= r.getAs[Long]("tf")
      && r.getAs[Long]("df") <= nDocs))
    val tfs = v.map(_.getAs[Long]("tf"))
    assert(tfs.zip(tfs.tail).forall { case (a, b) => a >= b })
  }

  test("c21 tfidf: every doc gets TopK ranked terms in non-increasing score order") {
    val t = TextQueries.c21TfidfTopk(spark, sf)
    val nDocs = Tables(spark, sf, "documents").count()
    assert(t.select("doc_id").distinct().count() == nDocs)
    assert(t.filter(col("rnk") < 1 || col("rnk") > TextQueries.TfidfTopK).count() == 0)
    val disorder = t.withColumn("prev",
      lag("tfidf", 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("rnk")))
      .filter(col("prev").isNotNull && col("prev") < col("tfidf"))
    assert(disorder.count() == 0)
  }

  test("c22 quantiles are ordered and cover every document") {
    val q = TextQueries.c22LengthQuantiles(spark, sf)
    assert(q.filter(col("p50") > col("p90") || col("p90") > col("p99")).count() == 0)
    assert(q.agg(sum("n_docs")).head.getLong(0) ==
      Tables(spark, sf, "documents").count())
  }

  test("c23 split assignment partitions the corpus deterministically") {
    val s = TextQueries.c23SplitAssign(spark, sf)
    assert(s.filter(!col("split").isin("train", "val", "test")).count() == 0)
    assert(s.agg(sum("n_docs")).head.getLong(0) ==
      Tables(spark, sf, "documents").count())
    // deterministic: a second run yields the identical frame
    val s2 = TextQueries.c23SplitAssign(spark, sf)
    assert(s.exceptAll(s2).count() == 0 && s2.exceptAll(s).count() == 0)
  }

  test("c24 bigrams: cond_micro <= 1e6, pair counts bounded by context counts") {
    val b = TextQueries.c24BigramLm(spark, sf)
    assert(b.count() > 0 && b.count() <= TextQueries.BigramTopK)
    assert(b.filter(col("cond_micro") > 1000000 || col("cond_micro") < 0).count() == 0)
    assert(b.filter(col("n_pair") > col("n_w1")).count() == 0)
  }

  test("c15 histogram conserves the document count") {
    val total = TextQueries.c15LengthHistogram(spark, sf).agg(sum("n_docs")).head.getLong(0)
    assert(total == Tables(spark, sf, "documents").count())
  }

  test("c55 vocab coverage equals the naive global-rank computation") {
    import org.apache.spark.sql.expressions.Window
    val r = TextQueries.c55VocabCoverage(spark, sf).collect()
      .map(x => x.getLong(x.fieldIndex("k")) ->
        (x.getLong(x.fieldIndex("cov_mass")), x.getLong(x.fieldIndex("vocab_size")),
         x.getLong(x.fieldIndex("total_mass")), x.getLong(x.fieldIndex("coverage_micro"))))
      .toMap
    // naive twin: rank every token globally, coverage = mass of rank <= k
    // (tie order within a count-class is irrelevant — the class formula's
    // rank-invariance — so ANY total rank order must reproduce it)
    val cnts = Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
    val vocabSize = cnts.count()
    val totalMass = cnts.agg(sum("cnt")).head.getLong(0)
    TextQueries.CoverageRanks.foreach { k =>
      val naive = cnts.filter(col("rnk") <= k).agg(coalesce(sum("cnt"), lit(0L)))
        .head.getLong(0)
      val (cov, vs, tm, covMicro) = r(k)
      assert(cov == naive, s"k=$k class-CDF $cov != naive $naive")
      assert(vs == vocabSize && tm == totalMass)
      assert(covMicro == cov * 1000000L / totalMass)
    }
    // coverage is monotone in k and capped at full mass
    val covs = TextQueries.CoverageRanks.map(k => r(k)._1)
    assert(covs == covs.sorted && covs.last <= totalMass)
  }
}

class DedupQueriesSpec extends SparkTestBase {

  test("c6 pairs are ordered, distinct, with 1..4 agreeing bands") {
    val p = DedupQueries.c6MinhashLsh(spark, sf)
    assert(p.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(p.filter(col("n_bands") < 1 || col("n_bands") > MinHashLsh.Bands).count() == 0)
    assert(p.groupBy("doc_a", "doc_b").count().filter(col("count") > 1).count() == 0)
  }

  test("c7 jaccard of an identical pair would be 1; all scores in [0, 1]") {
    val j = DedupQueries.c7NgramJaccard(spark, sf)
    assert(j.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
  }

  test("c8 simhash candidates respect the hamming cutoff") {
    val s = DedupQueries.c8Simhash(spark, sf)
    assert(s.filter(col("hamming") > DedupQueries.HammingMax.toLong
      || col("hamming") < 0).count() == 0)
  }

  test("GraphCC: chain collapses to one min-labeled component, isolate stays alone") {
    import spark.implicits._
    val vertices = Seq(10L, 20L, 30L, 40L, 99L).toDF("id")
    val edges = Seq((20L, 10L), (20L, 30L), (40L, 30L)).toDF("src", "dst")
    val got = graft.dedup.GraphCC.connectedComponents(vertices, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L, 99L -> 99L))
  }

  test("GraphCC local union-find and df pointer-jumping agree on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 300
    val vertices = (0L until n.toLong).toDF("id")
    val edges = Seq.fill(220)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("src", "dst")
    def run(impl: String): Map[Long, Long] = {
      spark.conf.set("graft.gcc.impl", impl)
      try graft.dedup.GraphCC.connectedComponents(vertices, edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("graft.gcc.impl")
    }
    val local = run("local")
    assert(local == run("df"))
    assert(local.size == n)
    // durable-checkpoint df variant: same labels, lineage cut to disk
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-gcc-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.conf.set("graft.seal.durable", "true")
    try assert(local == run("df"))
    finally spark.conf.unset("graft.seal.durable")
    assert(java.nio.file.Files.walk(ckptDir).anyMatch(java.nio.file.Files.isRegularFile(_)),
      "graft.seal.durable=true wrote no checkpoint files for the df loop")
  }

  test("c25 redaction: entity mentions counted and removed, lengths shrink accordingly") {
    val r = TextQueries.c25PiiRedact(spark, sf)
      .join(Tables(spark, sf, "documents").select("doc_id", "n_chars"), "doc_id")
    assert(r.count() == Tables(spark, sf, "documents").count())
    // this corpus has entity mentions but no emails / long digit runs
    assert(r.agg(sum("n_entity")).head.getLong(0) > 0)
    assert(r.agg(sum("n_email")).head.getLong(0) == 0)
    // redaction only ever shortens or preserves (pattern >= token length here)
    val grew = r.filter(col("redacted_len") > col("n_chars"))
    assert(grew.count() == 0)
    // docs with no hits are untouched
    val untouched = r.filter(col("n_email") + col("n_longnum") + col("n_entity") === 0)
    assert(untouched.filter(col("redacted_len") =!= col("n_chars")).count() == 0)
  }

  test("c26 repetition signals: distinct <= total, fractions in [0,1e6], bigram count = n-1") {
    val r = TextQueries.c26Repetition(spark, sf)
    assert(r.filter(col("n_distinct") > col("n_tokens")).count() == 0)
    assert(r.filter(col("top_token_cnt") > col("n_tokens")).count() == 0)
    assert(r.filter(col("n_bigrams") =!= col("n_tokens") - 1).count() == 0)
    for (c <- Seq("dup_frac_micro", "top_bigram_frac_micro"))
      assert(r.filter(col(c) < 0 || col(c) > 1000000).count() == 0)
  }

  test("c27 packing: offsets within budget, sequences fill contiguously per source") {
    val p = TextQueries.c27DocPack(spark, sf)
    assert(p.count() == Tables(spark, sf, "documents").count())
    assert(p.filter(col("seq_off") < 0 || col("seq_off") >= TextQueries.SeqBudget).count() == 0)
    // within a source, seq_id is non-decreasing in doc_id order
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("doc_id")
    val regress = p.withColumn("prev", lag("seq_id", 1).over(w))
      .filter(col("prev").isNotNull && col("seq_id") < col("prev"))
    assert(regress.count() == 0)
  }

  test("c29 contamination: hits are train docs only and each shares a gram with test") {
    val hits = TextQueries.c29Contamination(spark, sf)
    val h = pmod(col("doc_id") * lit(2654435761L) + lit(40503L), lit(100L))
    val trainIds = Tables(spark, sf, "documents")
      .filter(h < 80).select("doc_id")
    assert(hits.select("doc_id").exceptAll(trainIds).count() == 0)
    assert(hits.filter(col("n_hit") < 1).count() == 0)
  }

  test("c30 domain mix: largest source gets weight 1e6, all weights in (0, 1e6]") {
    val m = TextQueries.c30DomainMix(spark, sf).collect()
    val maxTokens = m.map(_.getAs[Long]("sum_tokens")).max
    m.foreach { r =>
      val w = r.getAs[Long]("weight_micro")
      assert(w > 0 && w <= 1000000)
      if (r.getAs[Long]("sum_tokens") == maxTokens) assert(w == 1000000)
    }
  }

  test("c19 collapse: every doc maps into its cluster, canonicals keep themselves") {
    val c = DedupQueries.c19DedupCollapse(spark, sf)
    assert(c.count() == Tables(spark, sf, "documents").count())
    assert(c.filter(col("canonical_id") > col("doc_id")).count() == 0)
    // the canonical of every cluster is itself kept
    val canonicals = c.select(col("canonical_id").as("doc_id")).distinct()
    val keptCanonicals = c.filter(col("keep")).select("doc_id")
    assert(canonicals.exceptAll(keptCanonicals).count() == 0)
    // collapsing removed at least the exact duplicates c1 finds
    val kept = c.filter(col("keep")).count()
    assert(kept <= graft.text.TextQueries.c1DedupExact(spark, sf).count())
  }

  test("c36 quality gate: covers every doc, verdict consistent with its inputs") {
    val r = TextQueries.c36QualityGate(spark, sf)
    assert(r.count() == Tables(spark, sf, "documents").count())
    assert(r.filter(col("keep") =!= (col("reason") === "ok")).count() == 0)
    // kept docs pass every gate; each reject reason implies its own gate fails
    assert(r.filter(col("keep") &&
      (col("n_tokens") < TextQueries.MinGateTokens ||
       col("quality_micro") < TextQueries.MinQualityMicro ||
       col("dup_frac_micro") > TextQueries.MaxDupFracMicro)).count() == 0)
    assert(r.filter(col("reason") === "low_quality" &&
      col("quality_micro") >= TextQueries.MinQualityMicro).count() == 0)
    assert(r.filter(col("reason") === "repetitive" &&
      col("dup_frac_micro") <= TextQueries.MaxDupFracMicro).count() == 0)
    // both gates fire somewhere on this corpus (thresholds are live)
    assert(r.filter(!col("keep")).count() > 0)
  }

  test("c35 dedup inflation: token mass conserves and inflation >= 1e6") {
    val r = DedupQueries.c35DedupInflation(spark, sf)
    // every source appears, kept <= total on both docs and tokens
    assert(r.count() ==
      Tables(spark, sf, "documents").select("source").distinct().count())
    assert(r.filter(col("n_kept") > col("n_docs") ||
      col("kept_tokens") > col("sum_tokens")).count() == 0)
    // whoever keeps anything inflates by at least 1.0 (micro-units)
    assert(r.filter(col("kept_tokens") > 0 &&
      col("inflation_micro") < 1000000L).count() == 0)
    // global doc counts agree with the collapse itself
    val keep = DedupQueries.c19DedupCollapse(spark, sf).filter(col("keep")).count()
    assert(r.agg(sum("n_kept")).head.getLong(0) == keep)
  }

  test("c31 LM score: bigram counts conserve, probabilities within (0, 1e6]") {
    val r = TextQueries.c31LmScore(spark, sf)
    // every doc with >=2 tokens appears with exactly (tokens - 1) bigrams
    val expected = Tables(spark, sf, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n") >= 2).agg(sum(col("n") - 1)).head.getLong(0)
    assert(r.agg(sum("n_bigrams")).head.getLong(0) == expected)
    assert(r.filter(col("avg_cond_micro") <= 0 ||
      col("avg_cond_micro") > 1000000L).count() == 0)
    // avg is the floor of sum/n
    assert(r.filter(col("avg_cond_micro") =!=
      expr("sum_cond_micro div n_bigrams")).count() == 0)
  }

  test("c105 doremi: exact MW recompute, loss-monotone weights, mass conserved") {
    val out = TextQueries.c105Doremi(spark, sf).collect()
    // independent per-domain loss: join c31 scores to sources and fold
    val scores = TextQueries.c31LmScore(spark, sf)
      .select("doc_id", "avg_cond_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val srcOf = Tables(spark, sf, "documents").select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDom = srcOf.filter(t => scores.contains(t._1)).groupBy(_._2)
    val loss = byDom.view.mapValues { ds =>
      val avgs = ds.map(t => scores(t._1))
      1000000L - avgs.sum / avgs.length
    }.toMap
    val doms = loss.keys.toSeq.sorted
    val k = doms.length.toLong
    var w = doms.map(_ => 1000000L / k)
    val l = doms.map(loss)
    for (_ <- 1 to TextQueries.MixIters) {
      val sw = w.sum
      val mixavg = w.zip(l).map { case (a, b) => a * b }.sum / sw
      val wp = w.zip(l).map { case (wi, li) =>
        val exc = math.max(0L, li - mixavg)
        wi * (1000000L + (exc * 1000000L / (mixavg + 1L)) / 4L)
      }
      val tot = wp.sum
      w = wp.map(x => x * 1000000L / tot)
    }
    val expected = doms.zip(w).toMap
    assert(out.length == doms.length)
    out.foreach { r =>
      val s = r.getString(0)
      assert(r.getAs[Long]("n_docs") == byDom(s).length)
      assert(r.getAs[Long]("loss_micro") == loss(s), s"loss $s")
      assert(r.getAs[Long]("w_micro") == expected(s), s"w $s")
    }
    // renormalized mass: Σw = 1e6 up to one truncation unit per domain
    val mass = out.map(_.getAs[Long]("w_micro")).sum
    assert(mass <= 1000000L && mass >= 1000000L - k)
    // weights are monotone in loss (equal starts + monotone multiplier)
    val sorted = out.sortBy(_.getAs[Long]("loss_micro"))
    sorted.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("w_micro") <= hi.getAs[Long]("w_micro"))
      case _ =>
    }
    // the mixture genuinely moved off uniform on this corpus
    assert(out.map(_.getAs[Long]("w_micro")).distinct.length > 1)
  }

  test("c107 hll vocab: registers and estimate recompute exactly, sketch within 25%") {
    import graft.functions.StrPolyHash
    val out = TextQueries.c107HllVocab(spark, sf).collect()
    val toks = Tables(spark, sf, "documents").select("lang", "text").collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(t =>
        (r.getString(0), StrPolyHash.hash(t.getBytes("UTF-8")))))
    val byLang = toks.groupBy(_._1)
    assert(out.length == byLang.size)
    out.foreach { row =>
      val lang = row.getString(0)
      val hs = byLang(lang).map(_._2)
      assert(row.getAs[Long]("n_tokens") == hs.length)
      assert(row.getAs[Long]("n_distinct") == hs.distinct.length)
      val regs = new Array[Long](256)
      hs.foreach { h =>
        val j = (h % 256).toInt
        val w = h / 256
        val rho = if (w == 0L) 54L else java.lang.Long.numberOfTrailingZeros(w) + 1L
        if (rho > regs(j)) regs(j) = rho
      }
      assert(row.getAs[Long]("reg_fp") ==
        regs.zipWithIndex.map { case (m, j) => m * (j + 1L) }.sum)
      val nZero = regs.count(_ == 0L).toLong
      assert(row.getAs[Long]("n_zero") == nZero)
      val sSum = regs.foldLeft(0.0)((acc, m) => acc + math.pow(2.0, -m.toDouble))
      val raw = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / sSum
      val est = if (raw <= 640.0 && nZero > 0) 256.0 * math.log(256.0 / nZero) else raw
      assert(math.abs(row.getAs[Double]("est") - est) < 1e-5, s"lang $lang")
      // the sketch is fit for purpose at this m
      val exact = hs.distinct.length.toDouble
      assert(math.abs(est - exact) / exact < 0.25, s"lang $lang est=$est exact=$exact")
    }
  }

  test("c109 retrieval eval: exact NDCG/MRR recompute, ideal dominates the run") {
    val out = TextQueries.c109RetrievalEval(spark, sf).collect()
    val run = TextQueries.c88Bm25(spark, sf)
      .select("qid", "rnk", "doc_id", "n_terms_hit").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // coverage recomputed independently of the ranker
    val docs = Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSet))
    // query terms: reconstruct from the run is not possible — recompute df-ranked
    val dfMap = docs.flatMap { case (id, ts) => ts.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val qterms = dfMap.toSeq.sortBy { case (t, df) => (df, t) }
      .take(TextQueries.Bm25Queries * TextQueries.Bm25TermsPerQuery)
      .zipWithIndex
      .groupBy(_._2 / TextQueries.Bm25TermsPerQuery)
      .view.mapValues(_.map(_._1._1).toSet).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def gNano(rel: Long, rank: Int): Long =
      math.round(((1L << rel) - 1).toDouble / log2(rank + 1.0) * 1e9)
    out.foreach { row =>
      val q = row.getLong(0)
      val qt = qterms(q.toInt)
      val rel = docs.map { case (id, ts) => id -> ts.intersect(qt).size.toLong }
        .filter(_._2 > 0).toMap
      assert(row.getAs[Long]("n_rel_docs") == rel.size)
      val idcg = rel.values.toSeq.sortBy(-_).take(TextQueries.Bm25TopK)
        .zipWithIndex.map { case (r, i) => gNano(r, i + 1) }.sum
      assert(row.getAs[Long]("idcg_nano") == idcg, s"idcg q$q")
      val qRun = run.filter(_._1 == q)
      val dcg = qRun.map { case (_, rnk, _, hit) => gNano(hit, rnk) }.sum
      assert(row.getAs[Long]("dcg_nano") == dcg, s"dcg q$q")
      assert(row.getAs[Long]("ndcg_micro") == dcg * 1000000L / idcg)
      val fr = qRun.filter(_._4 == TextQueries.Bm25TermsPerQuery.toLong)
        .map(_._2).sorted.headOption
      assert(row.getAs[Long]("mrr_micro") ==
        fr.map(1000000L / _).getOrElse(0L), s"mrr q$q")
      // the ideal ranking dominates any run by construction
      assert(idcg >= dcg && row.getAs[Long]("ndcg_micro") <= 1000000L)
    }
    assert(out.length == TextQueries.Bm25Queries)
  }

  test("c32 budget sample: admission is prefix-closed in hash order per stratum") {
    val r = TextQueries.c32SampleBudget(spark, sf)
    assert(r.count() > 0)
    // a doc is admitted iff it STARTS within budget
    assert(r.filter(col("cum_toks") - col("n_toks") >=
      TextQueries.StratumTokenBudget).count() == 0)
    // every stratum admits at least its first doc, and the stratum's
    // total admitted tokens start within budget by construction
    val strata = Tables(spark, sf, "documents").select("lang", "source").distinct().count()
    assert(r.select("lang", "source").distinct().count() == strata)
  }

  test("c33 prefix dups: equals the brute-force startswith pair set") {
    val d = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val brute = d.as("a").crossJoin(d.as("b"))
      .filter(col("a.doc_id") =!= col("b.doc_id") &&
        col("b.text").startsWith(concat(col("a.text"), lit(" "))))
      .select(col("a.doc_id").as("dup_id"), col("b.doc_id").as("host_id"))
    val got = TextQueries.c33PrefixDups(spark, sf)
    assert(got.count() > 0)
    assert(got.select("dup_id", "host_id").exceptAll(brute).count() == 0)
    assert(brute.exceptAll(got.select("dup_id", "host_id")).count() == 0)
    // a strict prefix always has fewer tokens than its host
    assert(got.filter(col("dup_tokens") >= col("host_tokens")).count() == 0)
  }

  test("c43 DSIR: every doc scored, ratios positive, en docs average higher") {
    val r = TextQueries.c43DsirWeights(spark, sf)
    val docs = Tables(spark, sf, "documents")
    assert(r.count() == docs.count())
    assert(r.filter(col("dsir_micro") <= 0).count() == 0)
    // token conservation: summed n_toks equals the corpus token count
    val totTok = docs.select(sum(size(split(col("text"), " ")))).head.getLong(0)
    assert(r.select(sum("n_toks")).head.getLong(0) == totTok)
    // the target domain must score above the rest on average (that is
    // the whole point of importance weighting toward it)
    val withLang = r.join(docs.select("doc_id", "lang"), "doc_id")
    val avg = withLang.groupBy(col("lang") === "en")
      .agg((sum("sum_ratio_micro") / sum("n_toks")).as("a"))
      .collect().map(x => x.getBoolean(0) -> x.getDouble(1)).toMap
    assert(avg(true) > avg(false))
  }

  test("c44 chunking: stride-spaced starts, full coverage, hash matches a rehash") {
    val r = TextQueries.c44ChunkOverlap(spark, sf)
    val ct = TextQueries.ChunkTokens
    val st = TextQueries.ChunkStride
    assert(r.filter(col("start_tok") =!= col("chunk_idx") * st + 1).count() == 0)
    assert(r.filter(col("n_tok") < 1 || col("n_tok") > ct).count() == 0)
    // coverage: per doc, the max chunk reaches the last token and chunk
    // idxs are contiguous from 0
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val per = r.groupBy("doc_id").agg(
      max(col("start_tok") + col("n_tok") - 1).as("covered"),
      count(lit(1)).as("n_chunks"), max("chunk_idx").as("max_idx"))
      .join(docs, "doc_id")
    assert(per.filter(col("covered") =!= col("n")).count() == 0)
    assert(per.filter(col("max_idx") =!= col("n_chunks") - 1).count() == 0)
    // chunks overlap by ct - st tokens: consecutive starts differ by st
    assert(st < ct)
  }

  test("c45 char stats: conservation vs length, collision bounds, spam extreme") {
    val r = TextQueries.c45CharStats(spark, sf)
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val j = r.join(docs, "doc_id")
    assert(j.filter(col("n_ch") =!= col("len")).count() == 0)
    // collision rate is a probability in micro-units; bounded below by
    // the uniform-distribution floor 1e6 / n_distinct
    assert(r.filter(col("collision_micro") <= 0 || col("collision_micro") > 1000000L).count() == 0)
    assert(r.filter(col("collision_micro") * col("n_distinct_chars") < 1000000L).count() == 0)
    // dominant char never exceeds total, distinct never exceeds total
    assert(r.filter(col("top_char_cnt") > col("n_ch") ||
      col("n_distinct_chars") > col("n_ch")).count() == 0)
  }

  test("c47 phrase mining: top-k strictly ordered, counts consistent, scores positive") {
    val r = TextQueries.c47PhraseMining(spark, sf).collect()
    assert(r.nonEmpty && r.length <= TextQueries.PhraseTopK)
    // descending score with (w1, w2) tie-break = a total order
    val keys = r.map(x => (x.getAs[Long]("score_micro"), x.getAs[String]("w1"), x.getAs[String]("w2")))
    keys.zip(keys.tail).foreach { case ((s1, a1, b1), (s2, a2, b2)) =>
      assert(s1 > s2 || (s1 == s2 && (a1 < a2 || (a1 == a2 && b1 < b2))))
    }
    // a pair occurrence consumes one occurrence of each member
    r.foreach { x =>
      assert(x.getAs[Long]("n_pair") >= TextQueries.PhraseMinCount)
      assert(x.getAs[Long]("n_pair") <= x.getAs[Long]("n_w1"))
      assert(x.getAs[Long]("n_pair") <= x.getAs[Long]("n_w2"))
      assert(x.getAs[Long]("score_micro") > 0)
    }
  }

  test("c48 dup spans: cross-doc run merges to one maximal span; self-repeat splits on the gap") {
    import spark.implicits._
    // tokens must be pairwise distinct under the (length, first, last)
    // token hash — letter-run tokens ("a", "aa", …) differ in length,
    // different docs use different letters, the shared run "s1".."s12"
    // differs from all of them in first char
    val run = (1 to 12).map(i => s"s$i").mkString(" ")
    def fill(c: Char, n: Int) = (1 to n).map(i => c.toString * i)
    val docs = Seq(
      // doc 1/2 share a 12-token run at different offsets → the three
      // duplicated k-window starts (consecutive) merge into ONE span of
      // exactly the run's 12 tokens in each doc
      (1L, (fill('a', 10) :+ run).mkString(" ")),
      (2L, (run +: fill('b', 10)).mkString(" ")),
      // doc 3: all windows unique → absent from the output
      (3L, fill('q', 30).mkString(" ")),
      // doc 4: the same 12-token run TWICE (self-repeat counts, as in
      // Lee et al.), separated by 11 unique tokens — the gap between
      // duplicated window starts exceeds k, so two disjoint spans
      (4L, (Seq(run) ++ fill('m', 11) ++ Seq(run)).mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextQueries.dupSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 1L, 12L, 12L), (2L, 1L, 12L, 12L), (4L, 2L, 12L, 24L)))
  }

  test("c49 gopher rules: verdict matches first-failing signal, gate fires both ways") {
    val g = TextQueries.c49GopherRules(spark, sf)
    assert(g.filter(col("keep") =!= (col("reason") === "ok")).count() == 0)
    // reason implies its own signal violation; ok implies none
    assert(g.filter(col("reason") === "too_few_tokens" &&
      col("n_tokens") >= TextQueries.GopherMinTokens).count() == 0)
    assert(g.filter(col("reason") === "few_stopwords" &&
      col("stop_kinds") >= TextQueries.GopherMinStopKinds).count() == 0)
    assert(g.filter(col("reason") === "ok" && (
      col("n_tokens") < TextQueries.GopherMinTokens ||
      col("n_tokens") > TextQueries.GopherMaxTokens ||
      col("mean_len_micro") < TextQueries.GopherMinMeanMicro ||
      col("mean_len_micro") > TextQueries.GopherMaxMeanMicro ||
      col("punct_per_tok_micro") > TextQueries.GopherMaxPunctPerTokMicro ||
      col("alpha_frac_micro") < TextQueries.GopherMinAlphaMicro ||
      col("stop_kinds") < TextQueries.GopherMinStopKinds)).count() == 0)
    assert(g.filter(col("keep")).count() > 0)
    assert(g.filter(!col("keep")).count() > 0)
  }

  test("c52 hashed classifier: score bounded by weight range, keep consistent, plain-Scala parity") {
    val r = TextQueries.c52HashClassifier(spark, sf)
    assert(r.count() == graft.Tables(spark, sf, "documents").count())
    // each token contributes a weight in [-1000, 1000]
    assert(r.filter(abs(col("score_raw")) > col("n_tokens") * 1000L).count() == 0)
    assert(r.filter((col("score_micro") >= 0L) =!= (col("keep") === 1L)).count() == 0)
    // plain-Scala reimplementation of the whole scorer on a sample
    def weight(t: String): Long = {
      val h = t.length.toLong * 1009L +
        (if (t.nonEmpty) t.head.toLong * 31L + t.last.toLong else 0L)
      h % TextQueries.ClsBuckets * 2654435761L % 2001L - 1000L
    }
    val docs = graft.Tables(spark, sf, "documents")
      .select("doc_id", "text").limit(50).collect()
    val got = r.select("doc_id", "score_raw").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    docs.foreach { d =>
      val want = d.getString(1).split(" ", -1).map(weight).sum
      assert(got(d.getLong(0)) == want, s"doc ${d.getLong(0)}")
    }
    // the classifier separates on this corpus (a one-sided gate proves nothing)
    assert(r.filter(col("keep") === 1L).count() > 0)
    assert(r.filter(col("keep") === 0L).count() > 0)
  }

  test("c53 bloom screen: no false negatives vs exact C29, fp accounting consistent") {
    val b = TextQueries.c53BloomDecontam(spark, sf)
    // a Bloom filter can over-approximate, never under-approximate
    assert(b.filter(col("exact_hits") > col("bloom_hits")).count() == 0)
    assert(b.filter(col("fp_grams") =!= col("bloom_hits") - col("exact_hits")).count() == 0)
    assert(b.filter((col("flagged") === 1L) =!= (col("bloom_hits") > 0L)).count() == 0)
    assert(b.filter(col("bloom_hits") > col("n_grams")).count() == 0)
    // every doc the exact screen catches is flagged here with the same count
    val exact = TextQueries.c29Contamination(spark, sf)
    val j = exact.join(b, Seq("doc_id"), "left")
    assert(j.filter(col("flagged").isNull || col("flagged") === 0L).count() == 0)
    assert(j.filter(col("n_hit") =!= col("exact_hits")).count() == 0)
    // with m = 1024 the filter is deliberately small: false positives
    // must actually occur on this corpus or the approximation is untested
    assert(b.agg(sum("fp_grams")).head.getLong(0) > 0)
  }

  test("c58 boilerplate: planted per-source banner is caught, sparse repeats are not") {
    import spark.implicits._
    val k = TextQueries.SegTokens
    val banner = (1 to k).map(i => s"banner$i").mkString(" ")
    // source A: 10 docs, every one opens with the banner (df = 100% ≥ 20%)
    // plus 2k unique tokens; source B: 10 docs where only ONE pair shares
    // a leading segment (df = 20% of... 2/10 = 20%? no — threshold needs
    // df·5 ≥ n_docs → 2·5 ≥ 10 holds! use 10 docs with one shared pair =
    // exactly at threshold; so use 11 docs in B → 2·5 < 11 rejects)
    val a = (0 until 10).map { i =>
      (i.toLong, "srcA", banner + " " + (1 to 2 * k).map(j => s"a${i}u$j").mkString(" "))
    }
    val shared = (1 to k).map(i => s"pair$i").mkString(" ")
    val b = (0 until 11).map { i =>
      val head = if (i < 2) shared else (1 to k).map(j => s"b${i}h$j").mkString(" ")
      (100L + i, "srcB", head + " " + (1 to k).map(j => s"b${i}u$j").mkString(" "))
    }
    val r = TextQueries.boilerplateOn(
        (a ++ b).toDF("doc_id", "source", "text")).localCheckpoint()
    // every srcA doc: exactly its banner segment flagged, k tokens of mass
    val ra = r.filter(col("source") === "srcA")
    assert(ra.count() == 10)
    assert(ra.filter(col("n_boiler_segs") =!= 1L || col("boiler_tokens") =!= k.toLong)
      .count() == 0)
    // srcB: 2/11 misses the 20% bar — nothing flagged
    assert(r.filter(col("source") === "srcB").agg(sum("n_boiler_segs"))
      .head.getLong(0) == 0L)
    // bounds always hold
    assert(r.filter(col("n_boiler_segs") > col("n_segs")
      || col("boiler_tokens") > col("total_tokens")).count() == 0)
  }

  test("c60 LSH curve: bounds, monotone theory, and conditioning gap at low jaccard") {
    val r = DedupQueries.c60LshCurve(spark, sf).localCheckpoint()
    val rows = r.orderBy("decile").collect()
    assert(rows.nonEmpty)
    rows.foreach { x =>
      val (obs, tb, tc) = (x.getLong(2), x.getLong(3), x.getLong(4))
      // a candidate shares ≥1 band by construction; ≤ all of them
      assert(obs >= 1000000L && obs <= MinHashLsh.Bands * 1000000L)
      assert(tb >= 0L && tc >= 0L && tc <= 1000000L)
    }
    // theoretical candidate probability is monotone in jaccard decile
    val tcs = rows.map(_.getLong(4))
    assert(tcs.zip(tcs.tail).forall(p => p._1 <= p._2))
    // the conditioning gap: in the lowest populated decile the observed
    // (candidacy-conditioned) band agreement must exceed the
    // unconditional expectation — the S-curve cliff the report exists
    // to show
    val low = rows.head
    assert(low.getLong(2) > low.getLong(3),
      s"no conditioning gap at decile ${low.getLong(0)}")
  }

  test("c61 funnel: stage counts are a decreasing intersection chain matching the operators") {
    val f = FunnelQueries.c61CurationFunnel(spark, sf).orderBy("stage").collect()
    assert(f.length == 5)
    val nd = f.map(_.getLong(2)); val nt = f.map(_.getLong(3))
    assert(nd.zip(nd.tail).forall(p => p._1 >= p._2))
    assert(nt.zip(nt.tail).forall(p => p._1 >= p._2))
    // stage 0 = corpus; stage 1 = the C36 gate's own keep count
    assert(nd(0) == Tables(spark, sf, "documents").count())
    assert(nd(1) == TextQueries.c36QualityGate(spark, sf)
      .filter(col("keep")).count())
    // the funnel ends non-empty on this corpus (an all-zero tail would
    // mean the report tested nothing)
    assert(nd(4) > 0)
  }

  test("c59 BPE merges: greedy non-overlap on equal-token runs, exact two-step trace") {
    import spark.implicits._
    // doc 1 is one 5-token equal run — the overlap corner; doc 2 the
    // next-best pair that must win iteration 2 after (x,x) is consumed
    val docs = Seq((1L, "x x x x x"), (2L, "p q p q")).toDF("doc_id", "text")
    val r = TextQueries.bpeMergesOn(docs).collect()
    assert(r.length == TextQueries.BpeIters)
    val it1 = r(0)
    // (x,x) has 4 adjacencies but only 2 non-overlapping merges;
    // 9 corpus tokens − 2 merges = 7 left
    assert(it1.getString(1) == "x" && it1.getString(2) == "x")
    assert(it1.getLong(3) == 4L && it1.getLong(4) == 2L && it1.getLong(5) == 7L)
    val it2 = r(1)
    // after iter 1 doc1 is [x_x, x_x, x]; (p,q) with 2 hits wins iter 2
    assert(it2.getString(1) == "p" && it2.getString(2) == "q")
    assert(it2.getLong(3) == 2L && it2.getLong(4) == 2L && it2.getLong(5) == 5L)
    // on the real corpus: merges monotonically shrink the token stream
    val real = TextQueries.c59BpeMerges(spark, sf).collect()
    assert(real.length == TextQueries.BpeIters)
    real.foreach(row => assert(row.getLong(4) > 0 && row.getLong(4) <= row.getLong(3)))
    assert(real.sliding(2).forall(p => p(0).getLong(5) > p(1).getLong(5)))
  }

  test("c95 BPE apply: segmented stream matches the learned trace exactly") {
    import spark.implicits._
    // the same planted corpus as the c59 spec: after (x,x) then (p,q),
    // doc 1 = [x_x@0, x_x@2, x@4], doc 2 = [p_q@0, p_q@2]
    val docs = Seq((1L, "x x x x x"), (2L, "p q p q")).toDF("doc_id", "text")
    val r = TextQueries.bpeApplyOn(docs).orderBy("doc_id").collect()
    assert(r.length == 2)
    val d1 = r(0)
    assert(d1.getLong(1) == 3L && d1.getLong(2) == 2L) // n_toks, n_types
    // seq_fp = 3*(0+1) + 3*(2+1) + 1*(4+1) = 17; max merged len 3
    assert(d1.getLong(3) == 17L && d1.getLong(4) == 3L)
    val d2 = r(1)
    assert(d2.getLong(1) == 2L && d2.getLong(2) == 1L)
    assert(d2.getLong(3) == 3L * 1 + 3L * 3 && d2.getLong(4) == 3L)
    // real corpus: total post-merge tokens must equal c59's final
    // tokens_after — apply and learn walk the same stream
    val applied = TextQueries.c95BpeApply(spark, sf)
    val total = applied.agg(sum("n_toks")).head.getLong(0)
    val learned = TextQueries.c59BpeMerges(spark, sf)
      .orderBy(col("iter").desc).head.getLong(5)
    assert(total == learned, s"apply total $total != learned tokens_after $learned")
  }

  test("c57 ppl buckets: per-language thirds are ordered, disjoint, and complete") {
    val b = TextQueries.c57PplBuckets(spark, sf).localCheckpoint()
    assert(b.filter(col("bucket") < 1 || col("bucket") > 3).count() == 0)
    // per language: bucket doc counts sum to the scored-doc count
    val scored = TextQueries.c31LmScore(spark, sf)
      .join(Tables(spark, sf, "documents").select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val sums = b.groupBy("lang").agg(sum("n_docs").as("s"))
      .join(scored, "lang").filter(col("s") =!= col("n"))
    assert(sums.count() == 0)
    // buckets are value-disjoint and ordered: head's worst score is
    // strictly above middle's best, middle's above tail's (score DESC)
    val rows = b.collect().groupBy(_.getString(0))
    rows.values.foreach { bs =>
      val byB = bs.map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4))).toMap
      for (i <- 1L to 2L if byB.contains(i) && byB.contains(i + 1))
        assert(byB(i)._1 > byB(i + 1)._2,
          s"bucket $i min ${byB(i)._1} !> bucket ${i + 1} max ${byB(i + 1)._2}")
    }
  }

  test("c63 CMS: estimates never undercount, and collisions actually occur at CmsW=512") {
    val r = TextQueries.c63CmsFreq(spark, sf).localCheckpoint()
    assert(r.count() == TextQueries.VocabTopK)
    // the count-min theorem: every probed cell holds the token's own
    // occurrences plus non-negative collision mass, so min-over-rows
    // can never fall below the exact frequency
    assert(r.filter(col("est") < col("tf")).count() == 0)
    assert(r.filter(col("overcount") =!= col("est") - col("tf")).count() == 0)
    // W is sized so the overcount accounting is exercised, not vacuous
    assert(r.filter(col("overcount") > 0L).count() > 0)
  }

  test("c64 classifier eval: confusion identities hold and the corpus is conserved") {
    val r = TextQueries.c64ClassifierEval(spark, sf).localCheckpoint()
    val nDocs = graft.Tables(spark, sf, "documents").count()
    assert(r.agg(sum("n_docs")).head.getLong(0) == nDocs)
    // tp + fp = predicted keeps; tp + fn = labeled keeps; tp bounded
    assert(r.filter(col("tp") + col("fp") =!= col("pred_keep")).count() == 0)
    assert(r.filter(col("tp") + col("fn") =!= col("label_keep")).count() == 0)
    assert(r.filter(col("tp") > col("n_docs")).count() == 0)
    // the threshold staircase actually spreads the corpus: more than
    // two populated buckets, and the classifier flips keep across them
    assert(r.count() > 2)
    assert(r.filter(col("pred_keep") === 0L).count() > 0)
    assert(r.filter(col("pred_keep") === col("n_docs")).count() > 0)
  }

  test("c66 containment: exact set recompute agrees, bounds hold, symmetry by size") {
    val r = graft.dedup.DedupQueries.c66Containment(spark, sf).localCheckpoint()
    assert(r.count() > 0)
    // bounds: |∩| <= min(|A|, |B|); micro ratios in [0, 1e6]
    assert(r.filter(col("n_common") > least(col("na"), col("nb"))).count() == 0)
    assert(r.filter(col("cont_a_micro") > 1000000L ||
      col("cont_b_micro") > 1000000L).count() == 0)
    // exact recompute of the distinct token-hash intersection for a sample
    def hashes(t: String): Set[Long] = t.split(" ").map { w =>
      w.length.toLong * 1009L + (if (w.nonEmpty) w.head.toLong * 31L + w.last.toLong else 0L)
    }.toSet
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    r.limit(500).collect().foreach { row =>
      val (a, b) = (docs(row.getAs[Long]("doc_a")), docs(row.getAs[Long]("doc_b")))
      val (sa, sb) = (hashes(a), hashes(b))
      assert(row.getAs[Long]("n_common") == (sa & sb).size)
      assert(row.getAs[Long]("na") == sa.size && row.getAs[Long]("nb") == sb.size)
    }
  }

  test("c67 incremental dedup: statuses recompute exactly, snapshot ids never change") {
    val r = TextQueries.c67IncrementalDedup(spark, sf).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getString(1))
    val cut = (docs.map(_._1).min + docs.map(_._1).max) / 2
    val oldMin = docs.filter(_._1 < cut).groupBy(_._2)
      .map { case (t, xs) => t -> xs.map(_._1).min }
    val fresh = docs.filter(_._1 >= cut)
    val newMin = fresh.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1).min }
    assert(r.keySet == fresh.map(_._1).toSet)
    fresh.foreach { case (id, t) =>
      val expect = oldMin.get(t) match {
        case Some(o) => ("dup_old", o)
        case None if newMin(t) < id => ("dup_new", newMin(t))
        case None => ("unique", -1L)
      }
      assert(r(id) == expect, s"doc $id")
    }
  }

  test("c68 Kneser-Ney: exact integer recompute of every emitted row") {
    val out = TextQueries.c68KnBigram(spark, sf).collect()
    assert(out.nonEmpty)
    // rebuild the bigram model in plain Scala
    val pairs = graft.Tables(spark, sf, "documents").select("text").collect()
      .flatMap(_.getString(0).split(" ").sliding(2).collect {
        case Array(x, y) => (x, y)
      })
    val nPair = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nW1 = pairs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nFollow = nPair.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nPred = nPair.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nTypes = nPair.size.toLong
    out.foreach { r =>
      val (w1, w2) = (r.getString(0), r.getString(1))
      val t1 = (1000000L * nPair((w1, w2)) - 750000L) / nW1(w1)
      val t2 = (BigInt(750000L) * nFollow(w1) * nPred(w2) /
        (BigInt(nW1(w1)) * nTypes)).toLong
      assert(r.getAs[Long]("pkn_micro") == t1 + t2, s"($w1,$w2)")
      assert(r.getAs[Long]("n_pair") == nPair((w1, w2)))
    }
    // the discounted mass is a probability: every row in (0, 1e6]
    assert(out.forall(r => r.getAs[Long]("pkn_micro") > 0 &&
      r.getAs[Long]("pkn_micro") <= 1000000L))
  }

  test("c71 Zipf fit: exact recompute per language, slope negative, r2 in (0, 1]") {
    val out = TextQueries.c71ZipfFit(spark, sf).collect()
    assert(out.nonEmpty)
    val tf = graft.Tables(spark, sf, "documents").select("lang", "text").collect()
      .flatMap(r => r.getString(1).split(" ").map(r.getString(0) -> _))
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.map { case ((lang, tok), n) => (lang, tok, n) }
    out.foreach { r =>
      val lang = r.getString(0)
      val ranked = tf.filter(_._1 == lang).sortBy(t => (-t._3, t._2))
        .take(TextQueries.ZipfTopK)
      val xs = ranked.indices.map(i =>
        BigDecimal(math.log((i + 1).toDouble) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val ys = ranked.map(t =>
        BigDecimal(math.log(t._3.toDouble) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val k = BigInt(xs.length)
      val (sx, sy) = (BigInt(xs.sum), BigInt(ys.sum))
      val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * b }.sum
      val sxx = xs.map(a => BigInt(a) * a).sum
      val syy = ys.map(a => BigInt(a) * a).sum
      val cov = k * sxy - sx * sy
      val varx = k * sxx - sx * sx
      val vary = k * syy - sy * sy
      def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Long]("k") == xs.length)
      assert(r.getAs[Double]("slope") == r6(cov.toDouble / varx.toDouble), lang)
      assert(r.getAs[Double]("r2") ==
        r6(cov.toDouble * cov.toDouble / (varx.toDouble * vary.toDouble)), lang)
      // natural text: frequency falls with rank, and the fit is real
      assert(r.getAs[Double]("slope") < 0, lang)
      assert(r.getAs[Double]("r2") > 0 && r.getAs[Double]("r2") <= 1.0, lang)
    }
  }

  test("c72 rare tokens: exact per-doc recompute against a Scala tf table") {
    val out = TextQueries.c72RareTokens(spark, sf).collect()
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val tf = docs.values.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    assert(out.map(_.getLong(0)).toSet == docs.keySet)
    out.foreach { r =>
      val toks = docs(r.getLong(0))
      val rare = toks.filter(t => tf(t) <= TextQueries.RareMax)
      assert(r.getAs[Long]("n_tokens") == toks.size)
      assert(r.getAs[Long]("n_rare") == rare.size)
      assert(r.getAs[Long]("n_rare_types") == rare.distinct.size)
      assert(r.getAs[Long]("min_tf") == toks.map(tf).min)
      assert(r.getAs[Long]("rare_ppm") == rare.size * 1000000L / toks.size)
    }
    // (this sf's synthetic vocab may have no tf<=RareMax token at all —
    // the exact recompute above is the real pin; keep only invariants)
    assert(out.forall(r => r.getAs[Long]("n_rare_types") <= r.getAs[Long]("n_rare")))
    assert(out.forall(r => r.getAs[Long]("n_rare") <= r.getAs[Long]("n_tokens")))
  }

  test("c73 corpus drift: per-token JS recompute, nonnegative, bounded by ln2") {
    val out = TextQueries.c73CorpusDrift(spark, sf).collect()
    assert(out.length > 0 && out.length <= TextQueries.DriftTopK)
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val cut = (docs.map(_._1).min + docs.map(_._1).max) / 2
    val oldT = docs.filter(_._1 < cut).flatMap(_._2)
    val newT = docs.filter(_._1 >= cut).flatMap(_._2)
    val co = oldT.groupBy(identity).view.mapValues(_.size.toLong)
    val cn = newT.groupBy(identity).view.mapValues(_.size.toLong)
    val (nOld, nNew) = (oldT.size.toDouble, newT.size.toDouble)
    def contrib(t: String): Long = {
      val p = co.getOrElse(t, 0L) / nOld
      val q = cn.getOrElse(t, 0L) / nNew
      val m = (p + q) / 2.0
      val v = (if (p > 0) p * math.log(p / m) else 0.0) +
        (if (q > 0) q * math.log(q / m) else 0.0)
      BigDecimal(v / 2.0 * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val jsTotal = (co.keySet ++ cn.keySet).toSeq.map(contrib).sum
    out.foreach { r =>
      assert(r.getAs[Long]("contrib_nano") == contrib(r.getString(0)), r.getString(0))
      assert(r.getAs[Long]("contrib_nano") >= 0)
      assert(r.getAs[Long]("js_nano") == jsTotal)
    }
    // JS divergence is bounded by ln 2 nats
    assert(jsTotal >= 0 && jsTotal <= math.round(math.log(2.0) * 1e9))
  }

  test("c74 minhash error: estimator unbiasedness shape and exact bounds") {
    val r = graft.dedup.DedupQueries.c74MinhashError(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (est, jac, err) = (row.getAs[Long]("mean_est_micro"),
        row.getAs[Long]("mean_jac_micro"), row.getAs[Long]("mean_err_micro"))
      assert(est >= 0 && est <= 1000000L && jac >= 0 && jac <= 1000000L)
      // |E[est] - E[jac]| <= E[|est - jac|] (Jensen) — up to the ±1
      // floor slack each of the three integer-div means carries
      assert(math.abs(est - jac) <= err + 2)
      assert(err <= 1000000L)
      // decile label brackets the mean exact jaccard
      val d = row.getAs[Long]("decile")
      assert(jac >= d * 100000L && (d == 9L || jac < (d + 1) * 100000L))
    }
  }

  test("c94 gate agreement: exact 2x2 and kappa recompute from the pinned frames") {
    val out = TextQueries.c94GateAgreement(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val gate = TextQueries.c36QualityGate(spark, sf).select("doc_id", "keep")
      .collect().map(x => x.getLong(0) -> x.getBoolean(1)).toMap
    val cls = TextQueries.c52HashClassifier(spark, sf).select("doc_id", "keep")
      .collect().map(x => x.getLong(0) -> (x.getLong(1) == 1L)).toMap
    val n = gate.size.toLong
    val a = gate.count { case (id, g) => g && cls(id) }.toLong
    val b = gate.count { case (id, g) => g && !cls(id) }.toLong
    val c = gate.count { case (id, g) => !g && cls(id) }.toLong
    val d = gate.count { case (id, g) => !g && !cls(id) }.toLong
    assert(r.getAs[Long]("n_docs") == n && a + b + c + d == n)
    assert(r.getAs[Long]("both_keep") == a && r.getAs[Long]("gate_only") == b)
    assert(r.getAs[Long]("cls_only") == c && r.getAs[Long]("both_drop") == d)
    assert(r.getAs[Long]("po_ppm") == (a + d) * 1000000L / n)
    val peNum = BigInt(a + b) * (a + c) + BigInt(c + d) * (b + d)
    assert(BigInt(r.getAs[Long]("pe_ppm")) == peNum * 1000000 / (BigInt(n) * n))
    val kNum = (BigInt(a + d) * n - peNum) * 1000000
    val kDen = BigInt(n) * n - peNum
    assert(BigInt(r.getAs[Long]("kappa_ppm")) == kNum / kDen)
    // kappa is a real agreement statistic: within [-1e6, 1e6]
    assert(math.abs(r.getAs[Long]("kappa_ppm")) <= 1000000L)
  }

  test("c93 cross-lingual screen: c6 candidates scored by hashed-set jaccard, lang-split") {
    import graft.dedup.DedupQueries
    val out = DedupQueries.c93CrossLingual(spark, sf).collect()
    assert(out.nonEmpty)
    def th(w: String): Long =
      w.length.toLong * 1009L + w.head.toInt * 31L + w.last.toInt
    val docs = graft.Tables(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        r.getString(2).split(" ").map(th).toSet)).toMap
    val cands = DedupQueries.c6MinhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    def q(d: Double) = BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expect = cands.flatMap { case (a, b) =>
      val (sa, sb) = (docs(a)._2, docs(b)._2)
      val jac = BigDecimal((sa & sb).size.toDouble / (sa | sb).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (jac >= DedupQueries.CrossLingualJac && docs(a)._1 != docs(b)._1)
        Some((a, b, q(jac * 1e6))) else None
    }.toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Long]("jac_micro"))).toSet == expect)
    out.foreach { r =>
      assert(r.getString(2) == docs(r.getLong(0))._1)
      assert(r.getString(3) == docs(r.getLong(1))._1)
      assert(r.getString(2) != r.getString(3))
    }
  }

  test("c92 Heaps law: exact checkpoint and regression recompute") {
    val out = TextQueries.c92HeapsLaw(spark, sf).collect()
    assert(out.length >= 5)
    def th(w: String): Long =
      w.length.toLong * 1009L + w.head.toInt * 31L + w.last.toInt
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).sortBy(_._1)
    val maxDoc = docs.map(_._1).max
    val cps = ((0 to 40).map(1L << _).filter(_ <= maxDoc) :+ (maxDoc + 1L)).distinct.sorted
    assert(out.map(_.getAs[Long]("cp")).toSeq == cps)
    val firstDoc = scala.collection.mutable.Map.empty[Long, Long]
    docs.foreach { case (id, ts) =>
      ts.foreach(t => firstDoc.getOrElseUpdate(th(t), id): Unit)
    }
    val (xs, ys) = (scala.collection.mutable.ArrayBuffer.empty[Long],
      scala.collection.mutable.ArrayBuffer.empty[Long])
    def q(d: Double) = BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    out.foreach { r =>
      val cp = r.getAs[Long]("cp")
      val tok = docs.filter(_._1 < cp).map(_._2.size.toLong).sum
      val typ = firstDoc.values.count(_ < cp).toLong
      assert(r.getAs[Long]("cum_tokens") == tok, s"cp=$cp")
      assert(r.getAs[Long]("cum_types") == typ)
      xs += q(math.log(tok.toDouble) * 1e6); ys += q(math.log(typ.toDouble) * 1e6)
    }
    // growth curve is non-decreasing in both coordinates
    assert(out.map(_.getAs[Long]("cum_tokens")).toSeq.sorted ==
      out.map(_.getAs[Long]("cum_tokens")).toSeq)
    val k = BigInt(xs.length)
    val (sx, sy) = (BigInt(xs.sum), BigInt(ys.sum))
    val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * b }.sum
    val sxx = xs.map(a => BigInt(a) * a).sum
    val syy = ys.map(a => BigInt(a) * a).sum
    val (cov, varx, vary) = (k * sxy - sx * sy, k * sxx - sx * sx, k * syy - sy * sy)
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { r =>
      assert(r.getAs[Double]("beta") == r6(cov.toDouble / varx.toDouble))
      assert(r.getAs[Double]("r2") ==
        r6(cov.toDouble * cov.toDouble / (varx.toDouble * vary.toDouble)))
    }
  }

  test("c91 DSIR draw: per-source counts recomputed from pinned c43 weights") {
    val out = TextQueries.c91DsirDraw(spark, sf).collect()
    val weights = TextQueries.c43DsirWeights(spark, sf)
      .select("doc_id", "dsir_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val src = graft.Tables(spark, sf, "documents").select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySource = weights.keys.groupBy(src)
    assert(out.map(_.getString(0)).toSet == bySource.keySet)
    out.foreach { r =>
      val ids = bySource(r.getString(0)).toSeq
      val kept = ids.count(id =>
        (id * 2654435761L + 40503L) % TextQueries.DsirDrawMod < weights(id))
      assert(r.getAs[Long]("n_docs") == ids.size)
      assert(r.getAs[Long]("n_kept") == kept)
      assert(r.getAs[Long]("accept_ppm") == kept.toLong * 1000000L / ids.size)
      assert(r.getAs[Long]("sum_weight_micro") == ids.map(weights).sum)
    }
    // the draw neither keeps everything nor drops everything
    val (tot, kept) = (out.map(_.getAs[Long]("n_docs")).sum,
      out.map(_.getAs[Long]("n_kept")).sum)
    assert(kept > 0 && kept < tot)
  }

  test("c90 pack sweep: brute-force recompute, monotone fill/split trade-off") {
    val out = TextQueries.c90PackSweep(spark, sf).collect()
    assert(out.map(_.getAs[Long]("ctx_len")).toSeq == TextQueries.PackSweepLens)
    val docs = graft.Tables(spark, sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        "\\S+".r.findAllIn(r.getString(2)).size.toLong))
    val bySource = docs.groupBy(_._2).view.mapValues(_.sortBy(_._1)).toMap
    out.foreach { r =>
      val l = r.getAs[Long]("ctx_len")
      var (splits, seqs, total) = (0L, 0L, 0L)
      bySource.values.foreach { g =>
        var cum = 0L
        g.foreach { case (_, _, n) =>
          val (start, end) = (cum / l, (cum + n - 1) / l)
          if (n > 0 && start != end) splits += 1
          cum += n
        }
        seqs += (cum + l - 1) / l
        total += cum
      }
      assert(r.getAs[Long]("n_seqs") == seqs, s"L=$l")
      assert(r.getAs[Long]("n_split_docs") == splits)
      assert(r.getAs[Long]("total_tokens") == total)
      assert(r.getAs[Long]("fill_ppm") == total * 1000000L / (seqs * l))
      assert(r.getAs[Long]("split_ppm") == splits * 1000000L / docs.length)
    }
    // the trade-off is visible: larger L never splits more docs
    val sorted = out.sortBy(_.getAs[Long]("ctx_len"))
    sorted.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("n_split_docs") >= hi.getAs[Long]("n_split_docs"))
      case _ =>
    }
  }

  test("c89 PMI: brute-force windowed pair recompute with exact nano quantization") {
    val out = TextQueries.c89PmiPairs(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.Tables(spark, sf, "documents").select("text").collect()
      .map(_.getString(0).split(" ").toSeq)
    val uni = docs.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTok = docs.map(_.size.toLong).sum
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { ts =>
      for (i <- ts.indices; d <- 1 to TextQueries.PmiWindow; if i + d < ts.size) {
        val (a, b) = (ts(i), ts(i + d))
        val k = if (a <= b) (a, b) else (b, a)
        pairCounts(k) = pairCounts.getOrElse(k, 0L) + 1L
      }
    }
    val npTot = pairCounts.values.sum
    def q(d: Double) = BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expect = pairCounts.filter(_._2 >= TextQueries.PmiMinPair).map { case ((a, b), n) =>
      val pmi = math.log((n.toDouble * nTok * nTok) / ((npTot.toDouble * uni(a)) * uni(b)))
      ((a, b), (n, uni(a), uni(b), q(pmi * 1e9)))
    }.toMap
    assert(out.map(r => ((r.getString(0), r.getString(1)),
      (r.getAs[Long]("n_pair"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("pmi_nano")))).toMap == expect)
  }

  test("c88 BM25: full brute-force recompute of queries, scores, and ranking") {
    val out = TextQueries.c88Bm25(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val df = docs.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size.toLong)
    val terms = df.toSeq.sortBy { case (t, d) => (d, t) }
      .take(TextQueries.Bm25Queries * TextQueries.Bm25TermsPerQuery)
    val nDocs = docs.size.toLong
    val sumDl = docs.values.map(_.size.toLong).sum
    def q(d: Double) = BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val scores = terms.zipWithIndex.flatMap { case ((term, dfT), i) =>
      val qid = i / TextQueries.Bm25TermsPerQuery
      docs.toSeq.flatMap { case (id, ts) =>
        val tf = ts.count(_ == term)
        if (tf == 0) None else {
          val dl = ts.size.toDouble
          val idf = math.log(1.0 + (nDocs.toDouble - dfT + 0.5) / (dfT + 0.5))
          val c = idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl * nDocs / sumDl)))
          Some(((qid.toLong, id), q(c * 1e9)))
        }
      }
    }.groupBy(_._1).view.mapValues(v => (v.map(_._2).sum, v.size.toLong)).toMap
    val expect = scores.toSeq.groupBy(_._1._1).flatMap { case (qid, g) =>
      g.sortBy { case ((_, id), (s, _)) => (-s, id) }
        .take(TextQueries.Bm25TopK).zipWithIndex
        .map { case (((_, id), (s, nt)), i) => (qid, i + 1L, id, s, nt) }
    }.toSet
    assert(out.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk").toLong,
      r.getAs[Long]("doc_id"), r.getAs[Long]("score_nano"),
      r.getAs[Long]("n_terms_hit"))).toSet == expect)
  }

  test("c87 epoch plan: identities hold and tie back to c30's weights") {
    val out = TextQueries.c87EpochPlan(spark, sf).collect()
    val mix = TextQueries.c30DomainMix(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("sum_tokens"), r.getAs[Long]("weight_micro")))
      .toMap
    assert(out.map(_.getString(0)).toSet == mix.keySet)
    val wTot = mix.values.map(_._2).sum
    val tokTot = mix.values.map(_._1).sum
    out.foreach { r =>
      val (toks, w) = mix(r.getString(0))
      assert(r.getAs[Long]("sum_tokens") == toks && r.getAs[Long]("weight_micro") == w)
      val target = (BigInt(TextQueries.EpochBudgetFactor) * tokTot * w / wTot).toLong
      assert(r.getAs[Long]("target_tokens") == target)
      val epochs = math.min((target + toks - 1) / toks, TextQueries.MaxEpochs)
      assert(r.getAs[Long]("epochs") == epochs)
      assert(r.getAs[Long]("effective_tokens") == math.min(target, toks * TextQueries.MaxEpochs))
      assert(r.getAs[Long]("deficit") == target - r.getAs[Long]("effective_tokens"))
      assert(r.getAs[Long]("epochs") >= 1L && r.getAs[Long]("epochs") <= TextQueries.MaxEpochs)
    }
    // tempering makes small sources repeat: some source needs > 1 epoch
    assert(out.exists(_.getAs[Long]("epochs") > 1L))
  }

  test("c86 contamination sweep: n=4 row matches c29, hits shrink as n grows") {
    val out = TextQueries.c86ContamSweep(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n")).toSeq == Seq(4L, 8L, 13L))
    // the n=4 row must agree with the standalone c29 screen
    val c29 = TextQueries.c29Contamination(spark, sf).collect()
    val r4 = out.find(_.getAs[Long]("n") == 4L).get
    assert(r4.getAs[Long]("n_docs_hit") == c29.length)
    assert(r4.getAs[Long]("n_hits") == c29.map(_.getAs[Long]("n_hit")).sum)
    // longer grams can only match less
    val sorted = out.sortBy(_.getAs[Long]("n"))
    sorted.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("n_docs_hit") >= hi.getAs[Long]("n_docs_hit"))
      case _ =>
    }
  }

  test("c85 threshold sweep: monotone in tau, 0.9 row reproduces the c19 clustering") {
    import graft.dedup.DedupQueries
    val out = DedupQueries.c85ThresholdSweep(spark, sf).collect()
    assert(out.map(_.getAs[Long]("tau_micro")).toSeq == Seq(500000L, 700000L, 900000L))
    // loosening tau can only merge more: removals/multis/max are monotone
    val byTau = out.sortBy(_.getAs[Long]("tau_micro"))
    byTau.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("docs_removed") >= hi.getAs[Long]("docs_removed"))
        assert(lo.getAs[Long]("max_cluster") >= hi.getAs[Long]("max_cluster"))
        assert(lo.getAs[Long]("n_clusters") <= hi.getAs[Long]("n_clusters"))
      case _ =>
    }
    // the tau = CollapseJaccard row is exactly c19's clustering
    val c19 = DedupQueries.c19DedupCollapse(spark, sf)
      .groupBy("canonical_id").count().collect().map(_.getLong(1))
    val r9 = byTau.last
    assert(r9.getAs[Long]("n_clusters") == c19.length)
    assert(r9.getAs[Long]("docs_removed") == c19.sum - c19.length)
    assert(r9.getAs[Long]("n_multi") == c19.count(_ >= 2))
    assert(r9.getAs[Long]("max_cluster") == c19.max)
    // the sweep is non-degenerate: tau=0.5 really merges more than 0.9
    assert(byTau.head.getAs[Long]("docs_removed") > r9.getAs[Long]("docs_removed"))
  }

  test("c84 cluster sizes: count-of-counts recompute from the pinned closure") {
    import graft.dedup.DedupQueries
    val out = DedupQueries.c84ClusterSizes(spark, sf).collect()
    assert(out.nonEmpty)
    val closure = DedupQueries.c19DedupCollapse(spark, sf)
      .select("doc_id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val toks = graft.Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length.toLong).toMap
    val perCluster = closure.groupBy(_._2).view
      .mapValues(g => (g.length.toLong, g.map(t => toks(t._1)).sum)).values.toSeq
    val expect = perCluster.groupBy(_._1).view.mapValues(g =>
      (g.length.toLong, g.map(_._1).sum, g.map(_._2).sum)).toMap
    assert(out.map(r => (r.getAs[Long]("k"), (r.getAs[Long]("n_clusters"),
      r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens")))).toMap == expect.toMap)
    // mass conservation: histogram re-sums to the whole corpus
    assert(out.map(_.getAs[Long]("n_docs")).sum == closure.length)
    assert(out.map(_.getAs[Long]("sum_tokens")).sum == toks.values.sum)
    // clusters of size >= 2 exist (the near-dup stage found something)
    assert(out.exists(_.getAs[Long]("k") >= 2L))
  }

  test("c82 dataset card: re-sums to corpus totals, recomputed from pinned inputs") {
    import graft.dedup.DedupQueries
    val out = DedupQueries.c82DatasetCard(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.Tables(spark, sf, "documents")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ").length.toLong))
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.length)
    val qual = TextQueries.c3QualityScore(spark, sf)
      .select("doc_id", "quality_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keep = DedupQueries.c19DedupCollapse(spark, sf)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    out.foreach { r =>
      val g = docs.filter(_._2 == r.getString(0))
      assert(r.getAs[Long]("n_docs") == g.length)
      assert(r.getAs[Long]("sum_tokens") == g.map(_._4).sum)
      assert(r.getAs[Long]("n_langs") == g.map(_._3).distinct.length)
      assert(r.getAs[Long]("mean_quality_micro") == g.map(t => qual(t._1)).sum / g.length)
      val dups = g.count(t => !keep(t._1)).toLong
      assert(r.getAs[Long]("n_dups") == dups)
      assert(r.getAs[Long]("dup_ppm") == dups * 1000000L / g.length)
    }
  }

  test("c83 span corruption: brute-force span enumeration, non-overlap, in-bounds") {
    val out = TextQueries.c83SpanCorruption(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length.toLong).toMap
    val (s, l) = (TextQueries.MaskStride, TextQueries.MaskSpanLen)
    val expect = docs.toSeq.flatMap { case (id, n) =>
      val off = (id * 2654435761L + 40503L) % s
      Iterator.iterate(off + 1)(_ + s).takeWhile(_ + l - 1 <= n)
        .map(st => (id, st)).toSeq
    }.toSet
    assert(out.map(r => (r.getLong(0), r.getAs[Long]("span_start"))).toSet == expect)
    assert(out.forall(_.getAs[Long]("span_len") == l))
    // non-overlap within each doc and all spans in bounds
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      val starts = rows.map(_.getAs[Long]("span_start")).sorted
      starts.sliding(2).foreach {
        case Array(a, b) => assert(b - a >= l)
        case _ =>
      }
      assert(rows.forall(r =>
        r.getAs[Long]("span_start") + l - 1 <= r.getAs[Long]("n_tokens")))
    }
  }

  test("c80 quality-dup crosstab: cells re-sum to the corpus, canonical counts match c19") {
    import graft.dedup.DedupQueries
    val out = DedupQueries.c80QualityDupCrosstab(spark, sf).collect()
    assert(out.nonEmpty)
    val nDocs = graft.Tables(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // canonical column total = c19's keeper count
    val keepers = DedupQueries.c19DedupCollapse(spark, sf)
      .filter(col("keep")).count()
    assert(out.filter(_.getAs[String]("dup_status") == "canonical")
      .map(_.getAs[Long]("n_docs")).sum == keepers)
    // per-cell recompute from the two pinned inputs
    val gate = TextQueries.c36QualityGate(spark, sf)
      .select("doc_id", "reason", "n_tokens").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val dup = DedupQueries.c19DedupCollapse(spark, sf)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val expect = gate.toSeq.map { case (id, (reason, nt)) =>
      ((reason, if (dup(id)) "canonical" else "duplicate"), (1L, nt))
    }.groupBy(_._1).view.mapValues(v =>
      (v.map(_._2._1).sum, v.map(_._2._2).sum)).toMap
    assert(out.map(r => ((r.getString(0), r.getString(1)),
      (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens")))).toMap == expect.toMap)
  }

  test("c79 cross-source: brute-force pair recompute from the pinned closure") {
    import graft.dedup.DedupQueries
    val out = DedupQueries.c79CrossSource(spark, sf).collect()
    assert(out.nonEmpty)
    val closure = DedupQueries.c19DedupCollapse(spark, sf)
      .select("doc_id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val src = graft.Tables(spark, sf, "documents").select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val perCluster = closure.toSeq.groupBy(_._2).view
      .mapValues(_.map(t => src(t._1)).groupBy(identity).view.mapValues(_.size.toLong).toMap)
    val expect = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    perCluster.values.foreach { counts =>
      val ss = counts.keys.toSeq.sorted
      for (i <- ss.indices; j <- i + 1 until ss.size) {
        val k = (ss(i), ss(j))
        val (c, p) = expect.getOrElse(k, (0L, 0L))
        expect(k) = (c + 1, p + counts(ss(i)) * counts(ss(j)))
      }
    }
    assert(out.map(r => ((r.getString(0), r.getString(1)),
      (r.getAs[Long]("n_shared_clusters"), r.getAs[Long]("n_cross_pairs")))).toMap
      == expect.toMap)
  }

  test("c77 keep-best: argmax selection vs the independently-pinned closure and quality") {
    import graft.dedup.DedupQueries
    val out = DedupQueries.c77KeepBest(spark, sf).collect()
    val closure = DedupQueries.c19DedupCollapse(spark, sf)
      .select("doc_id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qual = TextQueries.c3QualityScore(spark, sf)
      .select("doc_id", "quality_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(_.getLong(0)).toSet == closure.keySet)
    val byCluster = closure.keys.groupBy(closure)
    out.foreach { r =>
      val (doc, cl) = (r.getLong(0), r.getAs[Long]("canonical_id"))
      assert(cl == closure(doc))
      val members = byCluster(cl).toSeq
      val expectBest = members.minBy(d => (-qual(d), d))
      assert(r.getAs[Long]("best_id") == expectBest, s"cluster $cl")
      assert(r.getAs[Long]("cluster_size") == members.size)
      assert(r.getAs[Long]("quality_micro") == qual(doc))
      assert(r.getAs[Boolean]("keep_best") == (doc == expectBest))
    }
    // exactly one keeper per cluster, and keep-best differs from
    // keep-min-id somewhere (the rule change is observable)
    assert(out.count(_.getAs[Boolean]("keep_best")) == byCluster.size)
    assert(out.exists(r => r.getAs[Boolean]("keep_best") &&
      r.getLong(0) != r.getAs[Long]("canonical_id")))
  }

  test("c75 Good-Turing: exact count-of-counts recompute, smoothing identities") {
    val out = TextQueries.c75GoodTuring(spark, sf).collect()
    assert(out.nonEmpty)
    // re-derive the gram-hash tf table with an independent Scala fold
    def th(w: String): Long =
      w.length.toLong * 1009L + w.head.toInt * 31L + w.last.toInt
    val grams = graft.Tables(spark, sf, "documents").select("text").collect()
      .map(_.getString(0).split(" ").toSeq).filter(_.size >= TextQueries.ContamN)
      .flatMap(_.sliding(TextQueries.ContamN).map(
        _.foldLeft(0L)((acc, w) => (acc * TextQueries.FpB + th(w)) % TextQueries.FpM)))
    val tf = grams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val fof = tf.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n1 = fof.getOrElse(1L, 0L)
    val nTotal = grams.length.toLong
    out.foreach { r =>
      val rr = r.getAs[Long]("r")
      assert(r.getAs[Long]("n_r") == fof(rr), s"N_$rr")
      val next = fof.getOrElse(rr + 1, 0L)
      assert(r.getAs[Long]("n_next") == next)
      assert(r.getAs[Long]("gt_micro") == (rr + 1) * next * 1000000L / fof(rr))
      assert(r.getAs[Long]("unseen_ppm") == n1 * 1000000L / nTotal)
    }
    // every observed r <= cap is present — the singleton band especially
    assert(out.map(_.getAs[Long]("r")).toSet ==
      fof.keySet.filter(_ <= TextQueries.GtMaxR))
    assert(out.exists(_.getAs[Long]("r") == 1L))
    // only r values that occur appear, ordered, within the cap
    assert(out.map(_.getAs[Long]("r")).toSeq == out.map(_.getAs[Long]("r")).sorted.toSeq)
    assert(out.forall(r => r.getAs[Long]("r") >= 1 && r.getAs[Long]("r") <= TextQueries.GtMaxR))
  }

  test("c76 doc entropy: exact per-doc recompute, bounds 0 <= H <= ln(types)") {
    val out = TextQueries.c76DocEntropy(spark, sf).collect()
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    assert(out.map(_.getLong(0)).toSet == docs.keySet)
    def q(d: Double) = BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    out.foreach { r =>
      val ts = docs(r.getLong(0))
      val n = ts.size.toDouble
      val counts = ts.groupBy(identity).view.mapValues(_.size).values.toSeq
      val h = counts.map(c => q(c / n * math.log(n / c) * 1e9)).sum
      assert(r.getAs[Long]("n_tokens") == ts.size)
      assert(r.getAs[Long]("n_types") == counts.size)
      assert(r.getAs[Long]("entropy_nano") == h, s"doc ${r.getLong(0)}")
      if (counts.size > 1) {
        assert(r.getAs[Long]("efficiency_ppm") ==
          q(h / 1e9 / math.log(counts.size.toDouble) * 1e6))
        // quantization slack: each term rounds within 0.5 nano-nat
        assert(r.getAs[Long]("entropy_nano") >= -counts.size &&
          r.getAs[Long]("entropy_nano") <=
            q(math.log(counts.size.toDouble) * 1e9) + counts.size)
      } else assert(r.isNullAt(r.fieldIndex("efficiency_ppm")))
    }
  }

  test("c99 RRF fusion: brute-force tfidf run + exact fusion recompute") {
    val out = TextQueries.c99RrfFusion(spark, sf).collect()
    assert(out.nonEmpty)
    def q(d: Double) = BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val df = docs.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size.toLong)
    val terms = df.toSeq.sortBy { case (t, d) => (d, t) }
      .take(TextQueries.Bm25Queries * TextQueries.Bm25TermsPerQuery)
    val n = docs.size.toDouble
    def idf(dfT: Long) = math.log(n / dfT)
    // doc norms over the FULL tfidf weight vector, nano-quantized sums
    val norm2 = docs.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (t, g) =>
        val w = g.size * idf(df(t)); q(w * w * 1e9)
      }.sum
    }
    val qn2 = terms.zipWithIndex.groupBy(_._2 / TextQueries.Bm25TermsPerQuery)
      .view.mapValues(_.map { case ((_, dfT), _) =>
        q(idf(dfT) * idf(dfT) * 1e9) }.sum).toMap
    val tfidfScores = terms.zipWithIndex.flatMap { case ((term, dfT), i) =>
      val qid = i / TextQueries.Bm25TermsPerQuery
      docs.toSeq.flatMap { case (id, ts) =>
        val tf = ts.count(_ == term)
        if (tf == 0) None else Some(((qid.toLong, id),
          q(tf * idf(dfT) * idf(dfT)
            / (math.sqrt(norm2(id) / 1e9) * math.sqrt(qn2(qid) / 1e9)) * 1e9)))
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def rank(scores: Map[(Long, Long), Long]): Map[(Long, Long), Long] =
      scores.toSeq.groupBy(_._1._1).flatMap { case (_, g) =>
        g.sortBy { case ((_, id), sc) => (-sc, id) }
          .take(TextQueries.Bm25TopK).zipWithIndex
          .map { case ((k, _), i) => k -> (i + 1L) }
      }.toMap
    val rb = rank(tfidfScores)
    val ra = TextQueries.c88Bm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("rnk").toLong).toMap
    val k = TextQueries.RrfK
    val fused = (ra.keySet ++ rb.keySet).toSeq.map { key =>
      val rrf = ra.get(key).map(r => 1000000L / (k + r)).getOrElse(0L) +
        rb.get(key).map(r => 1000000L / (k + r)).getOrElse(0L)
      (key, rrf)
    }
    val expect = fused.groupBy(_._1._1).flatMap { case (qid, g) =>
      g.sortBy { case ((_, id), rrf) => (-rrf, id) }
        .take(TextQueries.Bm25TopK).zipWithIndex
        .map { case (((_, id), rrf), i) =>
          (qid, i + 1L, id, rrf, ra.getOrElse((qid, id), 0L), rb.getOrElse((qid, id), 0L)) }
    }.toSet
    assert(out.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk").toLong,
      r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_micro"),
      r.getAs[Long]("rnk_bm25"), r.getAs[Long]("rnk_tfidf"))).toSet == expect)
    // the two runs genuinely disagree somewhere, else the fusion is vacuous
    assert(out.exists(r => r.getAs[Long]("rnk_bm25") != r.getAs[Long]("rnk_tfidf")))
  }

  test("c100 fertility: per-lang aggregates tie back to c96 and the raw corpus") {
    val out = TextQueries.c100Fertility(spark, sf).collect()
    val segToks = TextQueries.c96BpeSegment(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_toks")).toMap
    val docs = graft.Tables(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byLang = docs.groupBy(_._2)
    assert(out.map(_.getString(0)).toSet == byLang.keySet)
    out.foreach { r =>
      val g = byLang(r.getString(0))
      val words = g.map(_._3.split(" ", -1).length.toLong).sum
      val chars = g.map(_._3.length.toLong).sum
      val toks = g.map(d => segToks(d._1)).sum
      assert(r.getAs[Long]("n_docs") == g.size)
      assert(r.getAs[Long]("sum_words") == words)
      assert(r.getAs[Long]("sum_chars") == chars)
      assert(r.getAs[Long]("sum_toks") == toks)
      assert(r.getAs[Long]("fertility_nano") == toks * 1000000000L / words)
      assert(r.getAs[Long]("chars_per_tok_nano") == chars * 1000000000L / toks)
      // merge-only BPE never splits, so tokens <= words and > 0
      assert(toks > 0L && toks <= words)
    }
  }

  test("c101 calibration: exact bucket recompute from c52 scores x c49 labels") {
    val out = TextQueries.c101Calibration(spark, sf).collect()
    val conf = TextQueries.c52HashClassifier(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("score_micro") + 1000000000L) / 2000L).toMap
    val pos = TextQueries.c49GopherRules(spark, sf).collect()
      .map(r => r.getLong(0) -> (if (r.getAs[Boolean]("keep")) 1L else 0L)).toMap
    val buckets = conf.toSeq.map { case (id, c) =>
      (math.min(c / 100000L, TextQueries.CalBuckets - 1L), c, pos(id))
    }.groupBy(_._1)
    val nTotal = conf.size.toLong
    assert(out.map(_.getAs[Long]("n_docs")).sum == nTotal)
    assert(out.map(_.getAs[Long]("bucket")).toSet == buckets.keySet)
    out.foreach { r =>
      val g = buckets(r.getAs[Long]("bucket"))
      val nD = g.size.toLong
      val meanC = g.map(_._2).sum / nD
      val posR = g.map(_._3).sum * 1000000L / nD
      assert(r.getAs[Long]("n_docs") == nD)
      assert(r.getAs[Long]("mean_conf_micro") == meanC)
      assert(r.getAs[Long]("pos_rate_micro") == posR)
      assert(r.getAs[Long]("gap_micro") == math.abs(meanC - posR))
      assert(r.getAs[Long]("ece_contrib_nano") ==
        nD * math.abs(meanC - posR) * 1000L / nTotal)
      assert(r.getAs[Long]("mean_conf_micro") >= 0L &&
        r.getAs[Long]("mean_conf_micro") <= 1000000L)
    }
  }

  test("c116 isotonic: exact minimax recompute, monotone fit, real pooling on this corpus") {
    val out = TextQueries.c116Isotonic(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("pos_rate_micro"), r.getAs[Long]("iso_rate_micro"),
        r.getAs[Long]("dev_micro"), r.getAs[Long]("pooled")))
    // independent bucket table from the raw c52 scores and c49 labels
    val conf = TextQueries.c52HashClassifier(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("score_micro") + 1000000000L) / 2000L).toMap
    val pos = TextQueries.c49GopherRules(spark, sf).collect()
      .map(r => r.getLong(0) -> (if (r.getAs[Boolean]("keep")) 1L else 0L)).toMap
    val buckets = conf.toSeq.map { case (id, c) =>
      (math.min(c / 100000L, TextQueries.CalBuckets - 1L), pos(id))
    }.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, g) => (b, g.size.toLong, g.map(_._2).sum) }
    val k = buckets.length
    def mm(a: Int, b: Int): Long = {
      val docs = buckets.slice(a, b + 1).map(_._2).sum
      buckets.slice(a, b + 1).map(_._3).sum * 1000000L / docs
    }
    val iso = Array.tabulate(k)(i =>
      (0 to i).map(a => (i until k).map(b => mm(a, b)).min).max)
    val expect = buckets.indices.map { i =>
      val (b, nd, np) = buckets(i)
      val raw = np * 1000000L / nd
      (b, nd, raw, iso(i), math.abs(raw - iso(i)), if (raw != iso(i)) 1L else 0L)
    }
    assert(out.toSeq == expect)
    // the fit is monotone nondecreasing across buckets
    assert(out.map(_._4).zip(out.map(_._4).tail).forall { case (a, b) => a <= b })
    // this corpus genuinely has an isotonicity violation to pool...
    assert(out.exists(_._6 == 1L), "raw reliability already isotonic — fit is vacuous")
    // ...and buckets the fit left alone
    assert(out.exists(_._6 == 0L))
    // pooling conserves nothing pointwise but stays in [0, 1e6]
    assert(out.forall(r => r._4 >= 0L && r._4 <= 1000000L))
  }

  test("c117 ks drift: exact ECDF-gap recompute, KS at rk 1, real split disagreement") {
    val out = TextQueries.c117KsDrift(spark, sf).collect()
      .map(r => (r.getAs[Int]("rk"), r.getAs[Long]("score_micro"),
        r.getAs[Long]("f_old_micro"), r.getAs[Long]("f_new_micro"),
        r.getAs[Long]("gap_micro"), r.getAs[Long]("n_old"), r.getAs[Long]("n_new")))
    // sequential single-threaded recompute of both ECDFs
    val scored = TextQueries.c52HashClassifier(spark, sf)
      .select("doc_id", "score_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cut = (scored.map(_._1).min + scored.map(_._1).max) / 2
    val old = scored.filter(_._1 < cut).map(_._2)
    val nw = scored.filter(_._1 >= cut).map(_._2)
    val nOld = old.length.toLong
    val nNew = nw.length.toLong
    val gaps = scored.map(_._2).distinct.sorted.map { s =>
      val fOld = old.count(_ <= s) * 1000000L / nOld
      val fNew = nw.count(_ <= s) * 1000000L / nNew
      (s, fOld, fNew, math.abs(fOld - fNew))
    }
    val expect = gaps.sortBy(g => (-g._4, g._1)).take(10).zipWithIndex.map {
      case ((s, fo, fn, gap), i) => (i + 1, s, fo, fn, gap, nOld, nNew)
    }
    assert(out.toSeq == expect.toSeq)
    // rk 1 carries the KS statistic — the global max gap
    assert(out.head._5 == gaps.map(_._4).max)
    // the two halves genuinely differ somewhere (the alarm has signal)
    assert(out.head._5 > 0L)
    // ECDFs are proper CDFs at the top end
    assert(gaps.last._2 == 1000000L && gaps.last._3 == 1000000L)
  }

  test("c118 gini: exact brute-force Lorenz recompute from per-doc token counts") {
    val out = TextQueries.c118Gini(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = graft.Tables(spark, sf, "documents").select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ").length.toLong))
    val expect = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, g) =>
      val xs = g.map(_._2).sorted // ties: any order — rank sums are tie-invariant
      val n = xs.length.toLong
      val t = xs.sum
      val s = xs.zipWithIndex.map { case (x, i) => x * (i + 1L) }.sum
      val q = (n * 9) / 10
      val bottom = xs.take(q.toInt).sum
      (lang, n, t,
        (2 * s * 1000000L - (n + 1) * t * 1000000L) / (n * t),
        ((t - bottom) * 1000000L) / t)
    }
    assert(out.toSeq == expect)
    // gini in [0, 1e6); top decile holds at least its proportional share
    assert(out.forall(r => r._4 >= 0L && r._4 < 1000000L))
    assert(out.forall(_._5 >= 100000L - 1L))
    // the corpus is genuinely unequal somewhere (the diagnostic has signal)
    assert(out.exists(_._4 > 0L))
  }

  test("c119 wordpiece: greedy longest-match recompute, lossless cover, both piece kinds") {
    val out = TextQueries.c119Wordpiece(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent vocab derivation from raw text
    val docs = graft.Tables(spark, sf, "documents").select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val wordOcc = docs.flatMap { case (l, t) => t.split(" ", -1).filter(_.nonEmpty).map((l, _)) }
    val wf = wordOcc.groupBy(_._2).map { case (w, g) => w -> g.length.toLong }
    val cand = scala.collection.mutable.Map.empty[(String, Boolean), Long]
    wf.foreach { case (w, f) =>
      for (p <- 0 until w.length; l <- 2 to TextQueries.WpMaxPieceLen
           if p + l <= w.length) {
        val k = (w.substring(p, p + l), p == 0)
        cand(k) = cand.getOrElse(k, 0L) + f
      }
    }
    val top = cand.toSeq.sortBy { case ((piece, isInit), wt) => (-wt, piece, !isInit) }
      .take(TextQueries.WpTopPieces).map(_._1)
    val chars = wf.keys.flatMap(_.toCharArray.map(_.toString)).toSet
    val init = chars ++ top.filter(_._2).map(_._1)
    val cont = chars ++ top.filterNot(_._2).map(_._1)
    def tokenize(w: String): Seq[String] = {
      val b = Seq.newBuilder[String]
      var pos = 0
      while (pos < w.length) {
        val l = (math.min(TextQueries.WpMaxPieceLen, w.length - pos) to 1 by -1)
          .find { l =>
            val s = w.substring(pos, pos + l)
            if (pos == 0) init(s) else cont(s)
          }.get
        b += (if (pos == 0) "" else "##") + w.substring(pos, pos + l)
        pos += l
      }
      b.result()
    }
    val byLang = wordOcc.groupBy(_._1)
    val expect = byLang.toSeq.sortBy(_._1).map { case (lang, occ) =>
      val pieceLists = occ.map(o => tokenize(o._2))
      val nW = occ.length.toLong
      val nP = pieceLists.map(_.length.toLong).sum
      (lang, nW, nP, nP * 1000000000L / nW,
        pieceLists.flatten.distinct.length.toLong)
    }
    assert(out.toSeq == expect)
    // greedy cover is lossless: pieces concat back to the word
    wf.keys.take(500).foreach { w =>
      assert(tokenize(w).map(_.stripPrefix("##")).mkString == w)
    }
    // fertility strictly > 1 word-piece per word somewhere (real splitting)
    assert(out.exists(r => r._3 > r._2))
    // and some words survive whole (the top-piece layer is genuinely used)
    assert(wf.keys.exists(w => tokenize(w).length == 1 && w.length > 1))
  }

  test("c132 unigram-lm: full EM + enumeration-argmax recompute, pruning, lossless cover") {
    val out = TextQueries.c132UnigramLm(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = graft.Tables(spark, sf, "documents").select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val wordOcc = docs.flatMap { case (l, t) => t.split(" ", -1).filter(_.nonEmpty).map((l, _)) }
    val wf = wordOcc.groupBy(_._2).map { case (w, g) => w -> g.length.toLong }
    // seed: every char + top substrings by occurrence weight
    val sub = scala.collection.mutable.Map.empty[String, Long]
    wf.foreach { case (w, f) =>
      for (p <- 0 until w.length; l <- 1 to TextQueries.UniMaxPieceLen
           if p + l <= w.length) {
        val k = w.substring(p, p + l)
        sub(k) = sub.getOrElse(k, 0L) + f
      }
    }
    val top = sub.toSeq.filter(_._1.length >= 2)
      .sortBy { case (p, wt) => (-wt, p) }
      .take(TextQueries.UniTopPieces).map(_._1).toSet
    var vocab: Map[String, Long] =
      sub.toSeq.filter { case (p, _) => p.length == 1 || top(p) }.toMap
    val charSet = vocab.keys.filter(_.length == 1).toSet
    def lnMicro(c: Long, t: Long): Long =
      BigDecimal(math.log(c.toDouble / t.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def costsOf(v: Map[String, Long]): Map[String, Long] = {
      val t = v.values.sum
      v.map { case (p, c) => p -> lnMicro(c, t) }
    }
    // the ORACLE's decoding strategy, independently coded: enumerate
    // every segmentation, argmax by (score DESC, path ASC) — the Spark
    // kernel decodes by forward DP instead; all three must agree
    def best(w: String, cost: Map[String, Long]): Seq[String] = {
      def rec(pos: Int): Seq[(Long, String)] =
        if (pos == w.length) Seq((0L, ""))
        else (1 to math.min(TextQueries.UniMaxPieceLen, w.length - pos)).flatMap { l =>
          val p = w.substring(pos, pos + l)
          cost.get(p).toSeq.flatMap(c => rec(pos + l).map { case (s, path) =>
            (c + s, if (path == "") p else p + " " + path) })
        }
      val all = rec(0)
      assert(all.nonEmpty, s"no segmentation covers '$w'")
      all.sortBy { case (s, path) => (-s, path) }.head._2.split(" ", -1).toSeq
    }
    val seedCosts = costsOf(vocab)
    for (_ <- 1 to TextQueries.UniEmIters) {
      val c = costsOf(vocab)
      val cnt = scala.collection.mutable.Map.empty[String, Long]
      wf.foreach { case (w, f) =>
        best(w, c).foreach(p => cnt(p) = cnt.getOrElse(p, 0L) + f) }
      vocab = vocab.keys.toSeq
        .filter(p => charSet(p) || cnt.contains(p))
        .map(p => p -> (if (charSet(p)) math.max(cnt.getOrElse(p, 0L), 1L)
                        else cnt(p))).toMap
    }
    val fin = costsOf(vocab)
    val byLang = wordOcc.groupBy(_._1)
    val expect = byLang.toSeq.sortBy(_._1).map { case (lang, occ) =>
      val pieceLists = occ.map(o => best(o._2, fin))
      val nW = occ.length.toLong
      val nP = pieceLists.map(_.length.toLong).sum
      (lang, nW, nP, nP * 1000000000L / nW,
        pieceLists.flatten.distinct.length.toLong)
    }
    assert(out.toSeq == expect)
    // Viterbi cover is lossless: pieces concat back to the word
    wf.keys.foreach(w => assert(best(w, fin).mkString == w))
    // the LM genuinely segments (fertility > 1 somewhere) and genuinely
    // keeps multi-char pieces whole (some word is a single piece)
    assert(out.exists(r => r._3 > r._2))
    assert(wf.keys.exists(w => w.length > 1 && best(w, fin).length == 1))
    // EM did real work: pruning shrank the seed, or re-weighting moved
    // at least one surviving piece's cost
    assert(vocab.size < seedCosts.size ||
      vocab.keys.exists(p => fin(p) != seedCosts(p)),
      "EM was a no-op: same vocab, same costs")
  }

  test("c135 lsh balance: sequential rollup recompute, pair mass ties to the c6 candidate set") {
    val out = DedupQueries.c135LshBalance(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // sequential rollup from the shared band rows (the band-hash
    // definition itself is value-checked by the c6/c74 oracles)
    val rows = DedupQueries.bandRowsOn(
        graft.Tables(spark, sf, "documents").select("doc_id", "text"))
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    val nDocs = graft.Tables(spark, sf, "documents").count()
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (band, g) =>
      val ks = g.groupBy(_._2).map(_._2.length.toLong).toSeq
      (band, ks.length.toLong, ks.sum, ks.max,
        ks.max * 1000000L / ks.sum, ks.map(k => k * (k - 1) / 2).sum)
    }
    assert(out.toSeq == want)
    // each band covers the whole corpus exactly once
    assert(out.forall(_._3 == nDocs))
    // the pair-mass prediction is exact: summed over bands it equals
    // the c6 candidate list's total band agreements (Σ n_bands)
    val c6Mass = DedupQueries.c6MinhashLsh(spark, sf)
      .agg(sum("n_bands")).head.getLong(0)
    assert(out.map(_._6).sum == c6Mass,
      s"pair mass ${out.map(_._6).sum} != c6 band-agreement total $c6Mass")
    // skew axis genuinely exercised: some bucket is hotter than uniform
    assert(out.exists(r => r._4 * r._2 > r._3), "all buckets uniform — skew untested")
  }

  test("c137 lsh tune: full sequential recompute, (2,8) identity, cost anti-monotone in rows") {
    // independent reimplementation from the published constants — token
    // hash, 16 affine perms, base-31 slice combine, rep chain, jaccard
    val M = 1000000007L
    def th(w: String): Long =
      w.length.toLong * 1009L +
        (if (w.isEmpty) 0L else w.charAt(0).toLong * 31L) +
        (if (w.isEmpty) 0L else w.charAt(w.length - 1).toLong)
    def pa(j: Int) = 4967L * j + 8191L
    def pb(j: Int) = 104729L * j + 12953L
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Seq[Long] = t.split(" ", -1).toSeq.map(th)
    val sigMap = docs.map { case (id, t) =>
      val sh = shingles(t)
      id -> (0 until 16).map(j => sh.map(s => (s * pa(j) + pb(j)) % M).min)
    }.toMap
    def slice(s: IndexedSeq[Long], bn: Int, r: Int): Long =
      (0 until r).map(i => s(bn * r + i)).reduceLeft((acc, x) => (acc * 31L + x) % M)
    // truth: text reps -> set reps, shipped (2,8) collisions, jac >= 0.5
    val reps = docs.groupBy(_._2).map(_._2.minBy(_._1)).toSeq
      .groupBy { case (_, t) => shingles(t).distinct.sorted.toList }
      .map(_._2.minBy(_._1)).toSeq.sortBy(_._1)
    val setOf = reps.map { case (id, t) => id -> shingles(t).distinct.toSet }.toMap
    val truth = (for {
      Seq((ia, _), (ib, _)) <- reps.combinations(2)
      if (0 until 2).exists(bn => slice(sigMap(ia), bn, 8) == slice(sigMap(ib), bn, 8))
      sa = setOf(ia); sb = setOf(ib)
      if r6((sa & sb).size.toDouble / (sa | sb).size) >= 0.5
    } yield (math.min(ia, ib), math.max(ia, ib))).toSeq
    assert(truth.nonEmpty, "degenerate fixture: no truth pairs")
    val want = DedupQueries.TuneFactorizations.map { case (nb, r) =>
      val mass = docs
        .flatMap { case (id, _) => (0 until nb).map(bn => (bn, slice(sigMap(id), bn, r))) }
        .groupBy(identity).map(_._2.length.toLong)
        .map(k => k * (k - 1) / 2).sum
      val det = truth.count { case (x, y) =>
        (0 until nb).exists(bn => slice(sigMap(x), bn, r) == slice(sigMap(y), bn, r))
      }.toLong
      (nb.toLong, r.toLong, mass, truth.size.toLong, det,
        r6(det.toDouble / truth.size))
    }.sortBy(_._1)
    val got = DedupQueries.c137LshTune(spark, sf).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3),
        r0.getLong(4), r0.getDouble(5))).toSeq
    assert(got == want)
    // the shipped banding detects every truth pair by construction
    val at28 = got.find(_._1 == 2L).get
    assert(at28._5 == at28._4, s"(2,8) missed truth pairs: $at28")
    // fixed budget: fewer rows per band = looser buckets = more candidates
    val costs = got.map(t => t._2 -> t._3).toMap
    assert(costs(16L) <= costs(8L) && costs(8L) <= costs(4L) &&
      costs(4L) <= costs(2L) && costs(2L) <= costs(1L),
      s"cost not anti-monotone in rows per band: $costs")
  }

  test("c138 merge sweep: greedy iterated recompute at every prefix, monotone compression") {
    // independent reimplementation of the merge semantics: per merge,
    // one greedy left-to-right non-overlapping pass (the C59 islands
    // rule), folded over the prefix — then every sweep point must match
    def applyMerges(toks: List[String], ms: Seq[(String, String)]): List[String] =
      ms.foldLeft(toks) { case (ts, (a, b)) =>
        val buf = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < ts.length) {
          if (i + 1 < ts.length && ts(i) == a && ts(i + 1) == b) {
            buf += s"${a}_$b"; i += 2
          } else { buf += ts(i); i += 1 }
        }
        buf.toList
      }
    val merges = TextQueries.learnedMerges(spark, sf)
    val docs = graft.Tables(spark, sf, "documents").select("text")
      .collect().map(_.getString(0))
    val want = TextQueries.MergeSweepKs.map { k =>
      k.toLong -> docs.map(t =>
        applyMerges(t.split(" ", -1).toList, merges.take(k)).length.toLong).sum
    }
    val base = want.head._2
    val got = TextQueries.c138MergeSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want.map { case (k, t) => (k, t, base - t, t * 1000000L / base) })
    // a longer merge prefix can only compress further, and the full
    // table must actually merge something
    assert(got.map(_._2) == got.map(_._2).sortBy(-_), s"token totals not monotone: $got")
    assert(got.last._3 > 0L, "no merge ever applied — sweep untested")
  }

  test("c135 pair mass: DECIMAL accumulation exact past the Long k·(k−1) bound, loud past BIGINT") {
    import spark.implicits._
    // small case: exact halved pair mass
    val ok = Seq((0, 1L, 10L), (0, 2L, 4L)).toDF("band", "bh", "k")
    assert(DedupQueries.bandBalanceOn(ok).head.getAs[Long]("cand_pairs") == 45L + 6L)
    // k = 4e9: k·(k−1) ≈ 1.6e19 WRAPS in Long math (the boilerplate-
    // flood regime the tripwire exists for); the decimal path is exact
    val big = 4000000000L
    val one = Seq((0, 1L, big)).toDF("band", "bh", "k")
    assert(DedupQueries.bandBalanceOn(one).head.getAs[Long]("cand_pairs") ==
      (BigInt(big) * (big - 1) / 2).toLong)
    // a per-band mass past 2·Long.Max must raise OUR error, never wrap
    val flood = Seq((0, 1L, big), (0, 2L, big), (0, 3L, big)).toDF("band", "bh", "k")
    val ex = intercept[Exception] { DedupQueries.bandBalanceOn(flood).collect() }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("c135"), s"wrong failure: $msgs")
  }

  test("c120 burstiness: exact moment recompute with zero-doc handling, regime witnesses") {
    val out = TextQueries.c120Burstiness(spark, sf).collect()
      .map(r => (r.getAs[Int]("rk"), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val docs = graft.Tables(spark, sf, "documents").select("text").collect()
      .map(_.getString(0).split(" ", -1))
    val nDocs = docs.length.toLong
    val perTok = docs.zipWithIndex
      .flatMap { case (ts, d) => ts.groupBy(identity).map { case (t, g) => (t, d, g.length.toLong) } }
      .groupBy(_._1).map { case (t, g) =>
        (t, g.map(_._3).sum, g.map(x => x._3 * x._3).sum, g.length.toLong)
      }
    val expect = perTok.toSeq.sortBy(t => (-t._2, t._1)).take(20).zipWithIndex.map {
      case ((t, nt, sx2, df), i) =>
        (i + 1, t, nt, df, (nDocs * sx2 - nt * nt) * 1000000L / (nDocs * nt))
    }
    assert(out.toSeq == expect)
    // VMR is nonnegative and a genuinely bursty token exists (VMR > 1)
    assert(out.forall(_._5 >= 0L))
    assert(out.exists(_._5 > 1000000L), "no bursty token in the top-20")
  }

  test("c121 rank correlation: exact Kendall tau recompute from the c99 fusion frame") {
    val out = TextQueries.c121RankCorr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // independent recompute from c99's published output: docs with both
    // run ranks, brute-force pair signs
    val fused = TextQueries.c99RrfFusion(spark, sf)
      .select("qid", "doc_id", "rnk_bm25", "rnk_tfidf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(r => r._3 > 0 && r._4 > 0)
    val expect = fused.groupBy(_._1).toSeq.sortBy(_._1).map { case (qid, g) =>
      val pairs = for {
        i <- g.indices; j <- g.indices
        if g(i)._2 < g(j)._2
      } yield math.signum((g(i)._3 - g(j)._3) * (g(i)._4 - g(j)._4))
      val c = pairs.count(_ > 0).toLong
      val d = pairs.count(_ < 0).toLong
      val n = g.length.toLong
      val np = n * (n - 1) / 2
      (qid, n, np, c, d, if (n >= 2) (c - d) * 1000000L / np else 0L)
    }
    assert(out.toSeq == expect)
    // recomputing from c99's PUBLISHED top-K is complete: a both-runs
    // doc scores rrf ≥ 2e6/(60+K) > 1e6/61 ≥ any single-run doc, and
    // there are ≤ K of them — so the fused top-K never drops one
    assert(out.nonEmpty)
    // the two rankers genuinely disagree somewhere (tau < 1)...
    assert(out.exists(r => r._6 < 1000000L))
    // ...and agree more than chance somewhere (tau > 0)
    assert(out.exists(r => r._6 > 0L))
  }

  test("c123 conformal: exact order-statistic threshold, coverage guarantee holds on val") {
    val rows = TextQueries.c123Conformal(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val scored = TextQueries.c52HashClassifier(spark, sf)
      .select("doc_id", "score_micro").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    def splitOf(id: Long) = {
      val h = (id * 2654435761L + 40503L) % 100L
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    val valScores = scored.filter(x => splitOf(x._1) == "val").map(_._2).sorted
    val testScores = scored.filter(x => splitOf(x._1) == "test").map(_._2)
    val nVal = valScores.length.toLong
    val k = (nVal + 1) * TextQueries.ConformalAlphaMicro / 1000000L
    val t = valScores(k.toInt - 1) // k-th smallest, 1-indexed
    assert(r.getAs[Long]("n_val") == nVal)
    assert(r.getAs[Long]("n_test") == testScores.length.toLong)
    assert(r.getAs[Long]("k") == k)
    assert(r.getAs[Long]("threshold_micro") == t)
    assert(r.getAs[Long]("coverage_val_ppm") ==
      valScores.count(_ >= t) * 1000000L / nVal)
    assert(r.getAs[Long]("coverage_test_ppm") ==
      testScores.count(_ >= t).toLong * 1000000L / testScores.length)
    // the split-conformal guarantee, checked on the calibration split:
    // at least (n_val - k + 1) of n_val val scores sit at or above the
    // k-th smallest — coverage ≥ 1 - α up to the 1/n_val quantization
    assert(r.getAs[Long]("coverage_val_ppm") >=
      (nVal - k) * 1000000L / nVal)
    // the threshold genuinely cuts something (k ≥ 1 on this corpus)
    assert(k >= 1L && r.getAs[Long]("coverage_val_ppm") < 1000000L)
  }

  test("c124 hill: exact order-statistic recompute at every depth, positive tail index") {
    val out = TextQueries.c124Hill(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val tf = graft.Tables(spark, sf, "documents").select("lang", "text").collect()
      .flatMap(r => r.getString(1).split(" ").map(t => (r.getString(0), t)))
      .groupBy(identity).map { case ((l, t), g) => (l, t, g.length.toLong) }
    val byLang = tf.groupBy(_._1)
    var checked = 0
    byLang.foreach { case (lang, toks) =>
      val ranked = toks.toSeq.sortBy(x => (-x._3, x._2)).map(_._3)
        .map(f => math.round(math.log(f.toDouble) * 1e6))
      TextQueries.HillKs.foreach { k =>
        if (ranked.length >= k + 1) {
          val h = ranked.take(k).sum - k.toLong * ranked(k)
          val alpha = k.toLong * 1000000000000L / math.max(h, 1L)
          assert(out((lang, k.toLong)) == ((h, alpha)), s"$lang k=$k")
          checked += 1
        } else assert(!out.contains((lang, k.toLong)), s"$lang k=$k should drop")
      }
    }
    assert(checked > 0)
    // tail indices are positive and finite on every reported depth
    assert(out.values.forall { case (h, a) => h >= 0L && a > 0L })
  }

  test("c125 fertility drift: per-half recompute ties to c119's whole-corpus counts") {
    val out = TextQueries.c125FertilityDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // recompute both halves with the SAME tokenizer the c119 spec
    // already verified, via the operator's own building blocks
    val docs = graft.Tables(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val cut = (docs.map(_._1).min + docs.map(_._1).max) / 2
    val (init, cont) = TextQueries.wpVocab(spark, sf)
    val initS = init.toSet
    val contS = cont.toSet
    def pieces(w: String): Long = {
      var pos = 0
      var n = 0L
      while (pos < w.length) {
        val l = (math.min(TextQueries.WpMaxPieceLen, w.length - pos) to 1 by -1)
          .find { l =>
            val s = w.substring(pos, pos + l)
            if (pos == 0) initS(s) else contS(s)
          }.get
        pos += l
        n += 1
      }
      n
    }
    val expect = docs.flatMap { case (id, lang, text) =>
      text.split(" ", -1).filter(_.nonEmpty).map(w => (lang, id < cut, w))
    }.groupBy(x => (x._1, x._2)).map { case ((lang, old), ws) =>
      (lang, old) -> (ws.length.toLong, ws.map(x => pieces(x._3)).sum)
    }
    val byLang = expect.keys.map(_._1).toSeq.distinct.sorted
      .filter(l => expect.contains((l, true)) && expect.contains((l, false)))
      .map { l =>
        val (wo, po) = expect((l, true))
        val (wn, pn) = expect((l, false))
        val fo = po * 1000000000L / wo
        val fn = pn * 1000000000L / wn
        (l, fo, fn, fn - fo)
      }
    assert(out.toSeq == byLang)
    // both signs of drift appear OR drift is nonzero somewhere — the
    // diagnostic has signal on this corpus
    assert(out.exists(_._4 != 0L))
  }

  test("c103 group split: exact recompute, zero leakage by construction, doc split leaks") {
    import graft.dedup.DedupQueries
    val out = DedupQueries.c103GroupSplit(spark, sf).collect()
    val collapse = DedupQueries.c19DedupCollapse(spark, sf)
      .select("doc_id", "canonical_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def splitOf(x: Long): String = {
      val h = (x * 2654435761L + 40503L) % 100L
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    val tagged = collapse.map { case (d, c) => (d, c, splitOf(d), splitOf(c)) }
    out.foreach { r =>
      val sp = r.getString(0)
      val own = tagged.filter(_._4 == sp)
      assert(r.getAs[Long]("n_docs") == own.length)
      assert(r.getAs[Long]("n_clusters") == own.map(_._2).distinct.length)
      assert(r.getAs[Long]("n_docs_doc_split") == tagged.count(_._3 == sp))
      assert(r.getAs[Long]("n_foreign_clusters") ==
        tagged.filter(t => t._3 == sp && t._4 != sp).map(_._2).distinct.length)
    }
    // the group split keeps every cluster whole (zero cross-split clusters)...
    val groupScatter = tagged.groupBy(_._2).values.count(g => g.map(_._4).distinct.length > 1)
    assert(groupScatter == 0)
    // ...while the naive doc split genuinely leaks on this corpus
    assert(out.map(_.getAs[Long]("n_foreign_clusters")).sum > 0L)
    // both assignments cover every doc exactly once
    assert(out.map(_.getAs[Long]("n_docs")).sum == collapse.length)
    assert(out.map(_.getAs[Long]("n_docs_doc_split")).sum == collapse.length)
  }

  test("c110 textrank: exact integer weighted power-iteration recompute") {
    val out = TextQueries.c110Textrank(spark, sf).collect()
    val docs = graft.Tables(spark, sf, "documents").select("text").collect()
      .map(_.getString(0).split(" ").toSeq)
    val minLen = TextQueries.TrMinLen
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { ts =>
      for (i <- ts.indices; d <- 1 to TextQueries.PmiWindow; if i + d < ts.size) {
        val (a, b) = (ts(i), ts(i + d))
        if (a.length >= minLen && b.length >= minLen && a != b) {
          val k = if (a <= b) (a, b) else (b, a)
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + 1L
        }
      }
    }
    val nodes = docs.flatten.filter(_.length >= minLen).distinct.sorted
    val n = nodes.length.toLong
    val edges = pairCounts.toSeq.flatMap { case ((a, b), w) =>
      Seq((a, b, w), (b, a, w)) }
    val s = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to TextQueries.TrIters) {
      val dm = nodes.filter(t => s.getOrElse(t, 0L) == 0L).map(r).sum
      val csum = edges.groupBy(_._2).view
        .mapValues(_.map { case (src, _, w) => r(src) * w / s(src) }.sum).toMap
      r = nodes.map(t =>
        t -> (150000000L + ((csum.getOrElse(t, 0L) + dm / n) * 850L) / 1000L)).toMap
    }
    assert(out.length == n)
    out.foreach { row =>
      val t = row.getString(0)
      assert(row.getAs[Long]("deg") == deg.getOrElse(t, 0L), s"deg $t")
      assert(row.getAs[Long]("s") == s.getOrElse(t, 0L), s"s $t")
      assert(row.getAs[Long]("rank_nano") == r(t), s"rank $t")
    }
    // the word graph genuinely has edges and the ranking genuinely varies
    assert(out.map(_.getAs[Long]("s")).max > 0L)
    assert(out.map(_.getAs[Long]("rank_nano")).distinct.length > 1)
  }

  test("c111 bradley-terry: exact duel + MM recompute, win-rate ordering sanity") {
    val out = TextQueries.c111BradleyTerry(spark, sf).collect()
    val docs = graft.Tables(spark, sf, "documents")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    def quality(text: String): Long = {
      val ts = text.split(" ").toSeq
      val n = ts.size.toLong
      val stop = ts.count(TextQueries.Stopwords.contains).toLong
      (stop * 300000L) / n + math.min(n, 200L) * 3500L
    }
    val q = docs.map { case (id, _, src, text) => id -> ((src, quality(text))) }.toMap
    // block matchmaking: min vs max doc_id per (lang, doc_id div BtBlock)
    val duels = docs.groupBy { case (id, lang, _, _) =>
      (lang, id / TextQueries.BtBlock) }
      .values.toSeq.filter(_.length >= 2).flatMap { cell =>
        val a = cell.map(_._1).min
        val b = cell.map(_._1).max
        val ((sa, qa), (sb, qb)) = (q(a), q(b))
        if (sa == sb) None
        else Some((sa, sb, if (qa >= qb) sa else sb))
      }
    assert(duels.nonEmpty)
    val dPairs = duels
      .groupBy { case (sa, sb, _) => (Seq(sa, sb).min, Seq(sa, sb).max) }
      .toSeq.flatMap { case ((s1, s2), ds) =>
        val n = ds.length.toLong
        val w1 = ds.count(_._3 == s1).toLong
        Seq((s1, s2, n, w1), (s2, s1, n, n - w1))
      }
    val items = dPairs.map(_._1).distinct.sorted
    val k = items.length.toLong
    val winTot = dPairs.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val nTot = dPairs.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var w = items.map(_ -> 1000000L).toMap
    for (_ <- 1 to TextQueries.BtIters) {
      val d = dPairs.groupBy(_._1).view.mapValues(_.map { case (s, o, n, _) =>
        n * 1000000000000L / (w(s) + w(o)) }.sum).toMap
      val wRaw = items.map(s => s -> (if (winTot(s) == 0L) 0L
        else winTot(s) * 1000000000000L / d(s))).toMap
      val tot = items.map(wRaw).sum
      w = items.map(s => s -> wRaw(s) * (k * 1000000L) / tot).toMap
    }
    assert(out.length == items.length)
    out.foreach { row =>
      val s = row.getString(0)
      assert(row.getAs[Long]("n_duels") == nTot(s), s"n_duels $s")
      assert(row.getAs[Long]("wins") == winTot(s), s"wins $s")
      assert(row.getAs[Long]("strength_micro") == w(s), s"strength $s")
    }
    // strength orders consistently with the extreme win rates: the best
    // win-rate source must outrank the worst (BT preserves dominance)
    val rates = out.map(r => (r.getAs[Long]("strength_micro"),
      r.getAs[Long]("wins").toDouble / r.getAs[Long]("n_duels")))
    val best = rates.maxBy(_._2)
    val worst = rates.minBy(_._2)
    assert(best._1 >= worst._1)
    // mass renormalization held: Σ strengths lands within truncation
    // drift of K·1e6 (each round loses < K micro to floor division)
    val mass = out.map(_.getAs[Long]("strength_micro")).sum
    assert(mass <= k * 1000000L && mass >= k * 1000000L - TextQueries.BtIters * k)
  }

  test("c113 mmr rerank: exact greedy recompute over the pinned run + embeddings") {
    val out = TextQueries.c113MmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val run = TextQueries.c88Bm25(spark, sf)
      .select("qid", "doc_id", "score_nano").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val emb = graft.Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosNano(x: Long, y: Long): Long = {
      val (a, b) = (emb(x), emb(y))
      val dot = a.zip(b).foldLeft(0.0) { case (acc, (p, q)) => acc + p * q }
      val n2a = a.foldLeft(0.0)((acc, v) => acc + v * v)
      val n2b = b.foldLeft(0.0)((acc, v) => acc + v * v)
      val r6 = BigDecimal(dot / math.sqrt(n2a * n2b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      BigDecimal(r6 * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val lam = TextQueries.MmrLambdaMicro
    val expect = run.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, cs) =>
      val rel = cs.map(t => t._2 -> t._3).toMap
      var remaining = rel.keys.toList.sorted
      var chosen = List.empty[Long]
      (1 to TextQueries.MmrSelect).flatMap { step =>
        if (remaining.isEmpty) None else {
          val scored = remaining.map { d =>
            val pen = if (chosen.isEmpty) 0L else chosen.map(cosNano(d, _)).max
            val mmr = (lam * rel(d)) / 1000000L - ((1000000L - lam) * pen) / 1000000L
            (d, rel(d), mmr)
          }
          val best = scored.minBy { case (d, _, m) => (-m, d) }
          chosen ::= best._1
          remaining = remaining.filterNot(_ == best._1)
          Some((qid, step.toLong, best._1, best._2, best._3))
        }
      }
    }
    assert(out.toSeq == expect)
    // step 1 is the pure-relevance argmax per query (pen is zero there)
    val byQ = run.groupBy(_._1)
    out.filter(_._2 == 1L).foreach { case (qid, _, doc, _, _) =>
      val best = byQ(qid).minBy(t => (-t._3, t._2))
      assert(doc == best._2)
    }
    // selections are distinct within each query
    out.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).distinct.length == rows.length)
    }
  }
}
