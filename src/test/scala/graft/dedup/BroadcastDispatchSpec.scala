package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint

import graft.SparkTestBase

/** Pins the size-dispatched broadcast hints on the dedup candidate /
  * scoring path (DedupQueries' dispatch scaladoc): below the gate the
  * dup-heavy fast path keeps its `broadcast()` hints; above it (forced
  * here via the `graft.dedup.maxBcast*` confs) the SAME recipe plans
  * plain equi-joins — no ResolvedHint, no driver-sized broadcast build
  * — with bit-identical output. An unconditional hint on the set-rep
  * frame is the one 100×-scale landmine the round-11 verdict flagged:
  * a diverse corpus has ~|docs| reps and the hinted broadcast OOMs the
  * driver instead of degrading.
  */
class BroadcastDispatchSpec extends SparkTestBase {

  /** A corpus where every text is distinct (reps == docs, the diverse
    * regime) but consecutive ids are near-duplicates, so the candidate
    * and scoring joins carry real matches through both forms.
    */
  private def diverseDocs(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val base = (0 until 10).map(k => s"w${(i / 2 * (k + 3)) % 23}").mkString(" ")
      (i.toLong, s"$base tail${i % 2}")
    }.toDF("doc_id", "text")
  }

  // count hints on the ANALYZED plan: the optimizer's
  // EliminateResolvedHint folds them into the Join nodes, so the
  // optimized plan is hint-free in both forms
  private def hintCount(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size

  private def withConfs(kv: (String, String)*)(body: => Unit): Unit = {
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("candidate pairs: hints below the gate, plain equi-joins above, same rows") {
    val docs = diverseDocs(200).localCheckpoint(true)
    val hinted = DedupQueries.candidatePairsOn(docs)
    assert(hintCount(hinted) > 0,
      "dup-heavy fast path lost its broadcast hints below the gate")
    var rowsHinted: Seq[(Long, Long, Long)] = null
    var rowsPlain: Seq[(Long, Long, Long)] = null
    rowsHinted = hinted.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    withConfs("graft.dedup.maxBcastGroups" -> "0") {
      val plain = DedupQueries.candidatePairsOn(docs)
      assert(hintCount(plain) == 0,
        "broadcast hint survived above the groups gate — driver OOM hazard at scale")
      rowsPlain = plain.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    }
    assert(rowsHinted.nonEmpty, "degenerate fixture: no candidate pairs at all")
    assert(rowsHinted == rowsPlain, "hint dispatch changed the candidate set")
  }

  test("candidate pairs: gate counts GROUPS, not docs — dup-heavy keeps the fast path") {
    import spark.implicits._
    // 200 docs but only 4 distinct texts → 4 signature groups: a
    // dup-heavy corpus far above a doc-count gate yet tiny on the
    // group side. Gating on |sigs| (an upper bound) would silently
    // drop the broadcast fast path on exactly this regime — the one
    // the hint was added for.
    val docs = (0 until 200).map(i =>
      (i.toLong, s"alpha beta gamma delta tail${i % 4}")).toDF("doc_id", "text")
      .localCheckpoint(true)
    withConfs("graft.dedup.maxBcastGroups" -> "50") {
      val df = DedupQueries.candidatePairsOn(docs)
      assert(hintCount(df) > 0,
        "a doc-count upper bound withheld the broadcast hint on a dup-heavy corpus")
    }
  }

  /** Hints whose build side projects any of `cols`. */
  private def hintsOn(df: DataFrame, cols: String*): Int =
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.output.exists(a => cols.contains(a.name)) => h
    }.size

  test("c7 class path: the token-set joins are gated by array elements, same rows") {
    def c7(confs: (String, String)*): (Int, Int, Seq[String]) = {
      var out: (Int, Int, Seq[String]) = null
      withConfs(("graft.dedup.c7.impl" -> "classes") +: confs: _*) {
        val df = DedupQueries.c7NgramJaccard(spark, sf)
        val sets = hintsOn(df, "sa", "sb")
        out = (sets, hintCount(df) - sets, df.collect().map(_.toString).toSeq)
      }
      out
    }
    val (setHints, narrowHints, want) = c7()
    assert(setHints == 2, "token-set joins lost their hints below the gate")
    assert(want.nonEmpty, "degenerate fixture: no c7 rows at all")
    val (plainSets, plainNarrow, got) = c7("graft.dedup.maxBcastSetElems" -> "0")
    assert(plainSets == 0,
      "token-array frame broadcast under a row-only gate with maxBcastSetElems=0")
    assert(plainNarrow == narrowHints && narrowHints > 0,
      "the narrow class-map joins changed their hints")
    assert(got == want, "the element gate changed c7's rows")
  }

  test("signatures: the per-class signature join is gated by its 16 slots a row, same rows") {
    val u = DedupQueries.setClassUniverse(spark, sf)
    val docs = graft.Tables.documents(spark, sf)
    def sigs(confs: (String, String)*): (Int, Seq[String]) = {
      var out: (Int, Seq[String]) = null
      withConfs(confs: _*) {
        val df = DedupQueries.signaturesOf(u, docs)
        out = (hintsOn(df, "sig"), df.collect().map(_.toString).toSeq.sorted)
      }
      out
    }
    val (hinted, want) = sigs()
    assert(hinted == 1, "signature join lost its hint below the gate")
    assert(want.nonEmpty, "degenerate fixture: no signatures at all")
    val (plain, got) = sigs("graft.dedup.maxBcastSetElems" -> "0")
    assert(plain == 0,
      "signature frame broadcast under a row-only gate with maxBcastSetElems=0")
    assert(got == want, "the element gate changed the signatures")
  }

  test("scored rep pairs: sets hint gated by rows AND array bytes, same edges") {
    val docs = diverseDocs(200).localCheckpoint(true)
    val hinted = DedupQueries.scoredRepPairsFor(docs, 0.5)
    assert(hintCount(hinted) > 0, "scoring path lost its hints below the gate")
    val want = hinted.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(want.nonEmpty, "degenerate fixture: no scored pairs at all")
    // rows gate and bytes gate must EACH independently withhold the hint
    for (conf <- Seq("graft.dedup.maxBcastReps", "graft.dedup.maxBcastSetElems")) {
      // autoBroadcastJoinThreshold=-1 isolates OUR hint from the
      // planner's own small-table broadcast (the fixture is tiny): with
      // both off, any BroadcastExchange left in the initial plan could
      // only come from an unconditional hint — the driver-OOM shape
      withConfs(conf -> "0", "graft.dedup.maxBcastGroups" -> "0",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val plain = DedupQueries.scoredRepPairsFor(docs, 0.5)
        assert(hintCount(plain) == 0, s"hint survived $conf=0")
        val plan = plain.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"),
          s"BroadcastExchange on the sets frame with $conf=0 and hints off — " +
            "the large form must leave the strategy to AQE from a shuffle start")
        val got = plain.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
        assert(got == want, s"shuffle form diverged under $conf=0")
      }
    }
  }
}
