package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.sets.sorted_intersect_count
import graft.text.TextQueries.{tokenHash, tokenHashSql, tokens}
import graft.util.Dispatch
import graft.util.Seal._

/** SURVEY.md §2 block C6–C8: near-duplicate detection over `documents`.
  *
  * MinHash+LSH (C6) → exact Jaccard re-rank (C7), plus SimHash hamming
  * buckets (C8). Shingle width is 1 token (the synthetic corpus shares a
  * ~40-word vocabulary, so token-set Jaccard is the discriminating
  * signal; the machinery is width-agnostic — swap [[shingleHashes]]).
  *
  * Scale shape (SURVEY.md §6): signatures are computed map-side from the
  * text column only; the only shuffles are (band, band_hash) for the LSH
  * bucket join and the candidate-pair join back to the (small) signature
  * sets — never full document text.
  */
object MinHashLsh {
  val M = 1000000007L
  val NumPerms = 16
  /** 2 bands × 8 rows: the synthetic corpus is homogeneous (shared ~40
    * word vocabulary → token-set Jaccard ~0.6 between random docs), so
    * r=8 keeps the per-band collision probability J^8 selective; r=4
    * would flag ~2/3 of ALL pairs as candidates, which defeats LSH.
    */
  val Bands = 2
  val Rows = 8 // NumPerms / Bands

  /** Affine permutation family a_j·x + b_j mod M — explicit constants so
    * the DuckDB twin reproduces them (SURVEY.md §5 hash rule).
    */
  def a(j: Int): Long = 4967L * j + 8191L
  def b(j: Int): Long = 104729L * j + 12953L

  /** Token-hash "shingles" (width 1, see class doc). */
  def shingleHashes(text: Column): Column = transform(tokens(text), tokenHash _)

  val shingleHashesSql: String =
    s"list_transform(string_split(text, ' '), w -> ${tokenHashSql("w")})"

  /** 16-slot minhash signature as an array column (map-side only). */
  def signature(shs: Column): Column =
    array((0 until NumPerms).map { j =>
      array_min(transform(shs, s => (s * lit(a(j)) + lit(b(j))) % lit(M)))
    }: _*)

  /** Band hash = base-31 combine of the band's 4 signature slots mod M. */
  def bandHash(sig: Column, band: Int): Column =
    (0 until Rows).map(r => sig.getItem(band * Rows + r))
      .reduceLeft((acc, s) => (acc * lit(31L) + s) % lit(M))

  def bandHashSql(band: Int): String =
    (0 until Rows).map(r => s"mhs[${band * Rows + r + 1}]")
      .reduceLeft((acc, s) => s"(($acc) * 31 + $s) % $M")
}

object DedupQueries {
  import MinHashLsh._

  /** Size-gated broadcast hints for the LSH candidate/scoring path (the
    * [[GraphCC.SmallGraphMax]] pattern applied to joins): an
    * UNCONDITIONAL `broadcast()` here is the one 100×-scale landmine —
    * a diverse corpus has ~|docs| distinct signatures and set-reps, and
    * a hinted broadcast of a corpus-sized frame doesn't degrade, it
    * OOMs the driver. Above the gate the joins run as plain equi-joins
    * and AQE still auto-broadcasts whenever the runtime build side fits
    * its own threshold — the hint is an optimization for the dup-heavy
    * regime, never a correctness lever.
    *
    * Every hinted join passes one gate, [[bcastHint]]: one aggregate
    * job over the (sealed, cheap to re-read) frame gives its rows and,
    * for an array payload, its summed elements — row count alone is a
    * poor proxy for an array frame's build size. The hint holds only
    * when rows ≤ the caller's row cap ([[MaxBcastGroups]] for narrow
    * class-keyed frames, 4M rows ≈ 100 MB; [[MaxBcastReps]] for the
    * per-class array frames: shingle sets, signatures, token sets) AND
    * elements ≤ [[MaxBcastSetElems]] (32M longs ≈ 256 MB).
    *
    * The three caps are the `graft.dedup.maxBcast*` session confs, so
    * specs pin the shuffle form at small SF.
    */
  val MaxBcastGroups = 4000000L
  val MaxBcastReps = 1000000L
  val MaxBcastSetElems = 32000000L

  private val GroupRows = ("graft.dedup.maxBcastGroups", MaxBcastGroups)
  private val RepRows = ("graft.dedup.maxBcastReps", MaxBcastReps)

  /** The broadcast gate (dispatch doc above) over `df`, whose rows carry
    * `elems` payload elements each (none: a narrow frame). Returns the
    * hint for each projection of `df` that a join builds on.
    */
  private def bcastHint(df: DataFrame, rowCap: (String, Long),
      elems: Option[Column] = None): DataFrame => DataFrame = {
    def cap(key: String, dflt: Long) = df.sparkSession.conf.getOption(key).fold(dflt)(_.toLong)
    val a = df.agg(count(lit(1)), elems.map(e => sum(e)).toSeq: _*).head()
    val nElems = if (a.length < 2 || a.isNullAt(1)) 0L else a.getLong(1)
    if (a.getLong(0) <= cap(rowCap._1, rowCap._2) &&
        nElems <= cap("graft.dedup.maxBcastSetElems", MaxBcastSetElems))
      broadcast else identity
  }

  /** doc_id + band-hash rows: the unit the LSH bucket join shuffles.
    *
    * Staged as ths → sig → bands so each stage is computed once per row:
    * CollapseProject won't inline an expensive alias used many times, so
    * the token hashing runs once, the 16 perm scans read the `ths`
    * column, and the band hashes read `sig` items — not 64 re-tokenizes
    * per row (which is what a single fused select would codegen).
    */
  /** (doc_id, band, bh) on ANY (doc_id, text) frame — batch or stream
    * (stateless projections only). D19's streaming LSH dedup shares
    * this definition, so the ingest-time screen and the batch C6 family
    * bucket identically by construction.
    */
  private[graft] def bandRowsOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), shingleHashes(col("text")).as("ths"))
      .select(col("doc_id"), signature(col("ths")).as("sig"))
      .select(col("doc_id"), posexplode(array((0 until Bands).map(bn =>
        bandHash(col("sig"), bn)): _*)).as(Seq("band", "bh")))

  private def bandRows(spark: SparkSession, dir: String): DataFrame =
    bandRowsOn(Tables.documents(spark, dir))

  private[graft] val bandRowsCtes: Seq[String] = Seq(
    s"toks AS (SELECT doc_id, $shingleHashesSql AS ths FROM fdoc)",
    s"""mh AS (
       |  SELECT doc_id, [${(0 until NumPerms).map(j =>
              s"list_min(list_transform(ths, s -> (s * ${a(j)} + ${b(j)}) % $M))").mkString(",\n    ")}] AS mhs
       |  FROM toks
       |)""".stripMargin,
    s"""bands AS (
       |  ${(0 until Bands).map(bn =>
            s"SELECT doc_id, CAST($bn AS INT) AS band, ${bandHashSql(bn)} AS bh FROM mh")
            .mkString("\n  UNION ALL\n  ")}
       |)""".stripMargin)

  // ---------------------------------------------------------------- C6
  /** LSH candidate pairs: self-equi-join on (band, band_hash), a < b,
    * counted per pair. The join key is 16 bytes/doc/band — at 100 TB this
    * is the only all-to-all movement and AQE handles hot buckets.
    *
    * Memoized per session+dir (localCheckpoint): C7 re-ranks exactly this
    * candidate set, so the bucket join runs once — an explicit shared
    * materialized intermediate, same determinism.
    */
  private val candCache = new graft.util.Memo[(String, String), DataFrame]

  /** Session+dir memo of the SEALED whole-corpus signature frame
    * (doc_id, sig): tokenize + 16 minhash perms is the one expensive
    * map-side pass every LSH family member needs, so it runs ONCE per
    * session — the candidate supernode path derives its band hashes
    * from these cached blocks and C137's tuner re-slices the same
    * 16-slot signatures into every b×r factorization. Before this memo
    * C137 paid a second corpus-sized minhash pass billed to itself —
    * counter to the prep-accounting goal of per-query numbers measuring
    * the query alone. Billed to its own [[graft.Prep]] line.
    */
  private val sigCache = new graft.util.Memo[(String, String), DataFrame]

  private[dedup] def signatures(spark: SparkSession, dir: String): DataFrame =
    sigCache.getOrElseUpdate((spark.sparkContext.applicationId, dir),
      signaturesOf(setClassUniverse(spark, dir), Tables.documents(spark, dir)).seal())

  /** The [[signatures]] memo's body, unsealed. r19 (verdict item 6): minhash is order/multiplicity-invariant
    * (array_min over the distinct sorted set == over the raw token
    * multiset), so a doc's signature IS its set class's — computed once
    * per CLASS from the universe's rep sets and expanded through the
    * doc→srep map, instead of the memo paying a second full-corpus
    * tokenize + 16-perm pass; its gate counts [[NumPerms]] elements a
    * row without computing a signature. NULL-text docs keep their all-NULL-slot
    * signature rows (the c137 re-slicer and its oracle both bucket them;
    * the universe excludes them by contract) — signature(NULL ths)
    * evaluates to the 16-NULL array without tokenizing anything.
    */
  private[dedup] def signaturesOf(u: SetClassUniverse, docs: DataFrame): DataFrame = {
    val hint = bcastHint(u.reps, RepRows, Some(lit(NumPerms)))
    val expanded = u.docMap
      .join(hint(u.reps.select(col("doc_id").as("srep"), signature(col("s")).as("sig"))), "srep")
      .select(col("doc_id"), col("sig"))
    val nulls = docs.filter(col("text").isNull)
      .select(col("doc_id"), signature(shingleHashes(col("text"))).as("sig"))
    expanded.unionByName(nulls)
  }

  /** Signature-supernode pair generation. Duplicate-heavy corpora (the
    * normal case for LLM training data — and extreme here) collapse
    * thousands of docs onto identical band-hash vectors; joining at the
    * doc level then dedup-counting pairs shuffles O(pairs) rows and
    * piles one bucket's k²/2 pairs onto one task. Instead:
    *   1. group docs by their FULL band-hash vector → supernode groups
    *      (one small shuffle of |docs| rows);
    *   2. count band agreement between GROUPS (tiny: |groups|² at most,
    *      same-group docs agree on every band by construction);
    *   3. expand group pairs back to doc pairs — two equi-joins against
    *      the (broadcastable) member table: pure output generation, no
    *      pair-keyed shuffle, no dedup, no straggler bucket.
    * Semantics are identical to the per-band bucket join: n_bands =
    * number of bands whose hashes agree.
    */
  private def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    candCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      // r19 (verdict item 6): doc-level candidates by EXPANSION of the
      // universe's class-level pairs — a doc pair's band agreement is
      // its set classes' (the signature is a function of the set), and
      // intra-class pairs agree on every band. Two long-keyed equi-joins
      // on the doc→srep map replace the private doc-level band-hash +
      // supernode chain this memo used to run; NULL-text docs produce no
      // pairs in either form (NULL band keys never equi-join, and the
      // universe excludes them by contract).
      val u = setClassUniverse(spark, dir)
      val dm = u.docMap
      val hintM = bcastHint(dm, GroupRows)
      val cross = u.repCands
        .join(hintM(dm.select(col("srep").as("doc_a"), col("doc_id").as("da"))), "doc_a")
        .join(hintM(dm.select(col("srep").as("doc_b"), col("doc_id").as("db"))), "doc_b")
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"), col("n_bands"))
      val intra = dm.select(col("srep"), col("doc_id").as("da"))
        .join(hintM(dm.select(col("srep"), col("doc_id").as("db"))), "srep")
        .filter(col("da") < col("db"))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          lit(Bands.toLong).as("n_bands"))
      cross.unionByName(intra)
    })

  /** Frame-level candidate generation for the ScaleSmoke 10x pins —
    * same body the memoized session path runs.
    */
  private[graft] def candidatePairsOn(docs: DataFrame): DataFrame =
    candidatePairsFor(docs)

  /** Supernode candidate generation over any (doc_id, text) frame —
    * shared by the whole-corpus C6/C7 path and C19's
    * representatives-only path.
    */
  private def candidatePairsFor(docs: DataFrame): DataFrame =
    candidatePairsFromSigs(docs
      .select(col("doc_id"), shingleHashes(col("text")).as("ths"))
      .select(col("doc_id"), signature(col("ths")).as("sig")))

  /** Supernode candidate generation from a (doc_id, sig) frame. */
  private def candidatePairsFromSigs(sigFrame: DataFrame): DataFrame = {
      val bhCols = (0 until Bands).map(bn => s"bh$bn")
      // The ONE materialization: tokenize + 16 minhash perms is the
      // expensive map-side pass, and everything downstream (groups,
      // members, band pairs — and C7's re-rank) re-reads it. One eager
      // checkpoint = one doc scan per session; the downstream joins are
      // cheap recomputes from the cached blocks, so they stay lazy and
      // fuse into the consuming job instead of forming a serial job
      // chain (three extra checkpoints here used to serialize ≥6 jobs).
      // (When `sigFrame` is the session [[signatures]] memo, the band
      // hashing below is a cheap projection over already-sealed blocks.)
      val sigs = sigFrame
        .select(col("doc_id") +: (0 until Bands).map(bn =>
          bandHash(col("sig"), bn).as(s"bh$bn")): _*)
        .seal()
      val groups = sigs.groupBy(bhCols.map(col): _*)
        .agg(min("doc_id").as("gid"))
      // band agreement between distinct groups: dup-heavy corpora
      // collapse docs onto few signatures, so `groups` is usually the
      // small (broadcastable) side — but only USUALLY: the hint is
      // gated on |groups| ITSELF (one cheap groupBy-count job over the
      // sealed sigs blocks) so a diverse ~|docs|-signature corpus falls
      // back to plain equi-joins under AQE instead of a driver-sized
      // broadcast build (see the dispatch scaladoc above). Gating on
      // |sigs| — an upper bound — would silently drop the fast path on
      // exactly the dup-heavy >4M-doc corpora the hint was added for
      // (|groups| tiny, |sigs| huge).
      val hintG = bcastHint(groups, GroupRows)
      val members = sigs.join(hintG(groups), bhCols)
        .select(col("gid"), col("doc_id"))
      val gpairs = (0 until Bands).map { bn =>
        val gl = groups.select(col(s"bh$bn").as("bh"), col("gid").as("g1"))
        val gr = groups.select(col(s"bh$bn").as("bh"), col("gid").as("g2"))
        gl.join(hintG(gr), "bh").filter(col("g1") < col("g2")).select("g1", "g2")
      }.reduce(_ union _)
        .groupBy("g1", "g2").agg(count(lit(1)).as("n_bands"))
      // same-signature docs: every band agrees
      val m1 = members.select(col("gid"), col("doc_id").as("doc_a"))
      val m2 = members.select(col("gid"), col("doc_id").as("doc_b"))
      val intra = m1.join(m2, "gid").filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), lit(Bands.toLong).as("n_bands"))
      // cross-group expansion (groups are disjoint → each pair emitted once)
      val cross = gpairs
        .join(members.select(col("gid").as("g1"), col("doc_id").as("da")), "g1")
        .join(members.select(col("gid").as("g2"), col("doc_id").as("db")), "g2")
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"), col("n_bands"))
      intra.union(cross)
  }

  def c6MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    candidatePairs(spark, dir).orderBy("doc_a", "doc_b")

  val c6Sql: String =
    s"""WITH ${bandRowsCtes.mkString(",\n")}
       |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS n_bands
       |FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- C7
  /** Exact n-gram Jaccard on the C6 candidates: join the pair list back
    * to per-doc distinct shingle sets (array_intersect/union sizes, one
    * final rounded division). Candidate-driven — never all-pairs.
    */
  /** Text-class compression pays only when the corpus actually HAS text
    * duplicates: below this docs-per-text-class ratio the expansion
    * scaffolding (two extra class joins + the doc-map fan-out) costs
    * more than the per-pair kernel it deduplicates — measured at sf0.1
    * (ratio 1.27): doc-level 0.68 s vs compressed 1.90 s min-of-3
    * interleaved A/B. Dup-heavy corpora (the 100 TB LLM-curation case,
    * where text-level ratios run 2–100×) take the compressed path.
    */
  val C7ClassRatio = 2L

  def c7NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // r19 class compression (guide §2.3/§8): the STRING-set jaccard is a
    // function of the TEXT class pair (identical text ⇒ identical token
    // set) — deliberately text-level, not set-class-level: under
    // token-hash collisions two texts can share a shingle-HASH set with
    // different string sets, and this report is defined on the strings,
    // so compressing by srep would assume collision-freeness. The
    // boxed-string intersect/union kernel runs once per text-class pair
    // (set-class pairs expanded to text-class pairs through the rep→srep
    // map, plus intra-set-class text pairs); intra-text-class doc pairs
    // are jaccard exactly 1.0 by identity. Size-dispatched on the
    // measured class ratio (see [[C7ClassRatio]]); BOTH forms are pinned
    // against the doc-level reference in ClassCompressionSpec.
    val u = setClassUniverse(spark, dir)
    if (Dispatch.engine(spark, "graft.dedup.c7.impl", ("classes", "docs"),
        u.textReps.count() * C7ClassRatio <= u.textMap.count()) == "docs")
      return c7DocLevel(spark, dir)
    val rs = u.textReps.select(col("rep"), col("srep"))
    val hintR = bcastHint(rs, GroupRows)
    val tsets = u.textReps.select(col("rep"),
      array_distinct(tokens(col("text"))).as("ws"))
    val hintW = bcastHint(tsets, RepRows, Some(size(col("ws"))))
    val crossT = u.repCands
      .join(hintR(rs.select(col("srep").as("doc_a"), col("rep").as("ra"))), "doc_a")
      .join(hintR(rs.select(col("srep").as("doc_b"), col("rep").as("rb"))), "doc_b")
      .select(col("ra"), col("rb"))
    val intraT = rs.select(col("srep"), col("rep").as("ra"))
      .join(hintR(rs.select(col("srep"), col("rep").as("rb"))), "srep")
      .filter(col("ra") < col("rb"))
      .select(col("ra"), col("rb"))
    // the kernel: once per text-class pair (string sets are class-bound
    // payloads here, never join keys)
    val scoredT = crossT.unionByName(intraT)
      .join(hintW(tsets.select(col("rep").as("ra"), col("ws").as("sa"))), "ra")
      .join(hintW(tsets.select(col("rep").as("rb"), col("ws").as("sb"))), "rb")
      .select(col("ra"), col("rb"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb"))), 6).as("jaccard"))
    val tm = u.textMap
    val hintM = bcastHint(tm, GroupRows)
    val cross = scoredT
      .join(hintM(tm.select(col("rep").as("ra"), col("doc_id").as("da"))), "ra")
      .join(hintM(tm.select(col("rep").as("rb"), col("doc_id").as("db"))), "rb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val intra = tm.select(col("rep"), col("doc_id").as("da"))
      .join(hintM(tm.select(col("rep"), col("doc_id").as("db"))), "rep")
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra).orderBy("doc_a", "doc_b")
  }

  /** The doc-level C7 form (kernel per candidate pair) — the right plan
    * when the corpus has few text duplicates; candidates come from the
    * shared memo either way.
    */
  private def c7DocLevel(spark: SparkSession, dir: String): DataFrame = {
    val cand = candidatePairs(spark, dir).select("doc_a", "doc_b")
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("s"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb"))), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val c7Sql: String =
    s"""WITH ${bandRowsCtes.mkString(",\n")},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |),
       |sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM fdoc)
       |SELECT c.doc_a, c.doc_b,
       |  round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
       |    / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
       |FROM cand c
       |JOIN sets x ON x.doc_id = c.doc_a
       |JOIN sets y ON y.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- C60
  /** C60: LSH S-curve calibration — the eval harness that says whether
    * the (b bands × r rows/band) family is TUNED: theory gives a pair
    * with Jaccard s an expected b·s^r shared bands and candidate
    * probability 1−(1−s^r)^b; the report compares the candidate set's
    * OBSERVED band agreement against both, per Jaccard decile. The
    * observed average conditions on candidacy (n_bands ≥ 1 by
    * construction), so at low s observed ≫ the unconditional
    * expectation — that gap IS the S-curve cliff the b/r knobs move,
    * and watching it per decile is how a 100 TB dedup run decides
    * whether to re-band before paying for the full pass.
    *
    * The conditioning variable is the jaccard of the HASHED shingle
    * sets — deliberately: the minhash signature is computed FROM
    * [[shingleHashes]], so b·s^r holds for exactly this s (the
    * string-set jaccard C7 reports differs wherever token hashes
    * collide, and the theory curve would be conditioned on the wrong
    * variable). Scale shape: ONE pass over the memoized candidate list
    * (which already carries n_bands) with two doc-dim set joins; |∩|
    * is the codegen'd `sorted_intersect_count` merge — the boxed
    * string array_intersect here cost 80 s at sf0.1's 7.7M pairs, the
    * d14 lesson again; the per-pair theoretical values quantize to
    * exact micro BIGINTs BEFORE any aggregation (identical double
    * expression each row, never a double SUM — SURVEY §5), then one
    * decile partial agg.
    */
  def c60LshCurve(spark: SparkSession, dir: String): DataFrame = {
    // r18: class-compressed form of [[lshCurveScore]] (which remains
    // the frame-level reference the ScaleSmoke pin and spec drive).
    // Every per-pair column the decile agg consumes — jaccard, n_bands,
    // tb, tc — is constant across all doc pairs spanning one pair of
    // set classes, so the kernel scores |class pairs| rows and the agg
    // weights them by EXACT integer multiplicities: ka·kb for a
    // cross-class pair, k·(k−1)/2 for an intra-class (jaccard-1,
    // all-bands) pair. 7.7M kernel merges at sf0.1 collapse to the
    // rep-pair count; results are bit-identical (integer weighted sums
    // of identical per-pair longs; ClassCompressionSpec pins it).
    val u = setClassUniverse(spark, dir)
    val k = u.docMap.groupBy("srep").agg(count(lit(1)).as("kk"))
    // the sealed rep/class frames have NO size statistics (LogicalRDD),
    // so without the gated hints the planner sort-merges these joins
    // and ships the pair frame WITH both hash arrays attached — a
    // 210 MB shuffle measured at sf0.1 where the broadcast form
    // shuffles zero. Same dispatch rule as scoredRepPairsFor.
    val hintS = bcastHint(u.reps, RepRows, Some(size(col("s"))))
    val sets = u.reps.select(col("doc_id"), col("s"))
      .withColumn("ns", size(col("s")))
    val cross = u.repCands
      .join(hintS(sets.select(col("doc_id").as("doc_a"),
        col("s").as("sa"), col("ns").as("na"))), "doc_a")
      .join(hintS(sets.select(col("doc_id").as("doc_b"),
        col("s").as("sb"), col("ns").as("nb"))), "doc_b")
      .join(hintS(k.select(col("srep").as("doc_a"), col("kk").as("ka"))), "doc_a")
      .join(hintS(k.select(col("srep").as("doc_b"), col("kk").as("kb"))), "doc_b")
      .withColumn("ni", sorted_intersect_count(col("sa"), col("sb")))
      .select((col("ka") * col("kb")).as("m"), col("n_bands"),
        round(col("ni").cast("double")
          / (col("na") + col("nb") - col("ni")), 6).as("jaccard"))
    val intra = k.filter(col("kk") >= 2L)
      .select(expr("kk * (kk - 1) div 2").as("m"),
        lit(Bands.toLong).as("n_bands"), lit(1.0).as("jaccard"))
    val s = col("jaccard")
    val sr = pow(s, lit(Rows.toDouble))
    cross.unionByName(intra)
      .select(col("m"),
        least(floor(s * 10).cast("long"), lit(9L)).as("decile"),
        col("n_bands"),
        round(sr * lit(Bands.toDouble) * lit(1000000.0), 0).cast("long").as("tb"),
        round((lit(1.0) - pow(lit(1.0) - sr, lit(Bands.toDouble))) * lit(1000000.0), 0)
          .cast("long").as("tc"))
      .groupBy("decile")
      .agg(sum("m").as("n_pairs"), sum(col("n_bands") * col("m")).as("sum_bands"),
        sum(col("tb") * col("m")).as("sum_tb"), sum(col("tc") * col("m")).as("sum_tc"))
      .select(col("decile"), col("n_pairs"),
        expr("sum_bands * 1000000 div n_pairs").as("obs_bands_micro"),
        expr("sum_tb div n_pairs").as("theo_bands_micro"),
        expr("sum_tc div n_pairs").as("theo_cand_micro"))
      .orderBy("decile")
  }

  /** Frame-level C60 core — see [[crossLingualScore]] for why it exists. */
  private[graft] def lshCurveScore(docs: DataFrame, cand: DataFrame): DataFrame = {
    // ONE pass over the pair list: the candidate frame already carries
    // n_bands, so the exact-jaccard re-rank joins the per-doc sets
    // straight onto it (C7's shape, identical jaccard expression) —
    // the curve never joins two PAIR-sized frames. The previous
    // cand ⋈ jac formulation paired the 7.7M-row sf0.1 candidate list
    // with itself and the planner chose a pair-sized broadcast build
    // (80 s, single-threaded); this form is two doc-dim set joins plus
    // the decile agg (~2 s), and at 100 TB never moves more than the
    // pair list once.
    val sets = docs
      .select(col("doc_id"),
        array_sort(array_distinct(shingleHashes(col("text")))).as("hs"))
    val jac = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .withColumn("ni", expr("sorted_intersect_count(ha, hb)"))
      .select(col("doc_a"), col("doc_b"), col("n_bands"),
        round(col("ni").cast("double")
          / (size(col("ha")) + size(col("hb")) - col("ni")), 6).as("jaccard"))
    val s = col("jaccard")
    val sr = pow(s, lit(Rows.toDouble))
    jac
      .select(
        least(floor(s * 10).cast("long"), lit(9L)).as("decile"),
        col("n_bands"),
        round(sr * lit(Bands.toDouble) * lit(1000000.0), 0).cast("long").as("tb"),
        round((lit(1.0) - pow(lit(1.0) - sr, lit(Bands.toDouble))) * lit(1000000.0), 0)
          .cast("long").as("tc"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"), sum("n_bands").as("sum_bands"),
        sum("tb").as("sum_tb"), sum("tc").as("sum_tc"))
      .select(col("decile"), col("n_pairs"),
        expr("sum_bands * 1000000 div n_pairs").as("obs_bands_micro"),
        expr("sum_tb div n_pairs").as("theo_bands_micro"),
        expr("sum_tc div n_pairs").as("theo_cand_micro"))
      .orderBy("decile")
  }

  val c60Sql: String =
    s"""WITH ${bandRowsCtes.mkString(",\n")},
       |cand AS (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS n_bands
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2
       |),
       |sets AS (SELECT doc_id, list_distinct($shingleHashesSql) AS s FROM fdoc),
       |jraw AS (
       |  SELECT c.doc_a, c.doc_b, c.n_bands,
       |    CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS ni,
       |    CAST(len(x.s) AS BIGINT) AS na, CAST(len(y.s) AS BIGINT) AS nb
       |  FROM cand c
       |  JOIN sets x ON x.doc_id = c.doc_a
       |  JOIN sets y ON y.doc_id = c.doc_b
       |),
       |jac AS (
       |  SELECT doc_a, doc_b, n_bands,
       |    round(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard
       |  FROM jraw
       |),
       |q AS (
       |  SELECT LEAST(CAST(FLOOR(jaccard * 10) AS BIGINT), 9) AS decile, n_bands,
       |    CAST(ROUND(pow(jaccard, $Rows) * $Bands * 1000000) AS BIGINT) AS tb,
       |    CAST(ROUND((1 - pow(1 - pow(jaccard, $Rows), $Bands)) * 1000000) AS BIGINT) AS tc
       |  FROM jac
       |)
       |SELECT decile, COUNT(*) AS n_pairs,
       |  CAST(SUM(n_bands) AS BIGINT) * 1000000 // COUNT(*) AS obs_bands_micro,
       |  CAST(SUM(tb) AS BIGINT) // COUNT(*) AS theo_bands_micro,
       |  CAST(SUM(tc) AS BIGINT) // COUNT(*) AS theo_cand_micro
       |FROM q GROUP BY decile ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- C8
  /** 32-bit SimHash: per-token hashes spread over 32 bits (Knuth
    * multiplicative), per-bit ±1 sums aggregated per doc, near-dup
    * candidates = same top-16-bit bucket AND hamming ≤ 3. One explode +
    * one agg (map-side combinable) + one bucket self-join.
    */
  val SimBits = 32
  val Spread = 2654435761L
  val SpreadMod = 4294967296L // 2^32
  val HammingMax = 3
  val BucketShift = 16

  def c8Simhash(spark: SparkSession, dir: String): DataFrame = {
    val th32 = (tokenHash(col("tok")) * lit(Spread)) % lit(SpreadMod)
    val bitSums = (0 until SimBits).map(bn =>
      sum(when(shiftright(col("th32"), bn).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"s_$bn"))
    val sim = (0 until SimBits).map(bn =>
      when(col(s"s_$bn") > 0, lit(1L << bn)).otherwise(lit(0L))).reduce(_ + _)
    val sims = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), th32.as("th32"))
      .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("sim"))
      .withColumn("bucket", shiftright(col("sim"), BucketShift))
    val l = sims.select(col("bucket"), col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val r = sims.select(col("bucket"), col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    l.join(r, "bucket").filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .orderBy("doc_a", "doc_b")
  }

  val c8Sql: String = {
    val sumDefs = (0 until SimBits).map(bn =>
      s"SUM(CASE WHEN (th32 >> $bn) & 1 = 1 THEN 1 ELSE -1 END) AS s_$bn").mkString(",\n    ")
    val simExpr = (0 until SimBits).map(bn =>
      s"CASE WHEN s_$bn > 0 THEN ${1L << bn} ELSE 0 END").mkString(" + ")
    s"""WITH tokrows AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM fdoc
       |), th AS (
       |  SELECT doc_id, (${tokenHashSql("tok")} * $Spread) % $SpreadMod AS th32 FROM tokrows
       |), bs AS (
       |  SELECT doc_id,
       |    $sumDefs
       |  FROM th GROUP BY doc_id
       |), sims AS (
       |  SELECT doc_id, CAST($simExpr AS BIGINT) AS sim FROM bs
       |), sb AS (
       |  SELECT doc_id, sim, sim >> $BucketShift AS bucket FROM sims
       |)
       |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |  CAST(bit_count(xor(l.sim, r.sim)) AS BIGINT) AS hamming
       |FROM sb l JOIN sb r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.sim, r.sim)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- C19
  /** Near-dup cluster collapse threshold: pairs at or above this exact
    * Jaccard are merged. High, because the synthetic corpus's shared
    * vocabulary puts even unrelated docs around 0.6.
    */
  val CollapseJaccard = 0.9

  /** C19: collapse the near-duplicate graph into canonical clusters —
    * the final step of every at-scale dedup pipeline (pairs alone don't
    * dedupe; transitive closure does). Semantics: transitive closure of
    * the LSH-candidate pairs whose exact Jaccard — over the distinct
    * SHINGLE-HASH sets, i.e. precisely the sets whose similarity the
    * MinHash signatures estimate — is ≥ [[CollapseJaccard]]; every
    * document maps to the min doc_id of its component (singletons to
    * themselves), so `keep = (doc_id == canonical_id)` is the dedup
    * filter.
    *
    * Computed with EXACT-DUP STAR COMPRESSION (the shape every big
    * dedup pipeline uses — exact dedup before near-dedup): identical
    * text ⇒ identical token set ⇒ identical signature ⇒ an LSH
    * candidate pair with Jaccard 1, so the closure over all docs equals,
    * component for component, the closure over one representative per
    * distinct text plus doc→rep star edges. Candidate generation and the
    * quadratic-ish pair Jaccard then run over |distinct texts| docs, not
    * |docs| — on a dup-heavy corpus that's orders of magnitude less work
    * with bit-identical results (the driver oracle closes over the FULL
    * pair graph and must agree).
    */
  /** Memoized per session+dir (localCheckpoint, the GeoDerive.cells
    * pattern): the C19 query, the C35 inflation report and the curation
    * pipeline all consume this closure, so the LSH + scoring + CC chain
    * runs once per session. The checkpointed frame is doc_id →
    * (canonical_id, keep) — a few columns per doc, far smaller than any
    * intermediate.
    */
  private val collapseCache =
    new graft.util.Memo[(String, String), DataFrame]

  def c19DedupCollapse(spark: SparkSession, dir: String): DataFrame =
    collapseCache.getOrElseUpdate((spark.sparkContext.applicationId, dir),
      collapseUncached(spark, dir).seal())

  private def collapseUncached(spark: SparkSession, dir: String): DataFrame = {
    // r19 (verdict item 6): the collapse rides the session universe —
    // the same two-level star (identical text → rep, identical shingle
    // set → srep: guaranteed jaccard-1 closure edges) every scored
    // consumer shares — and its τ=0.9 edge set is the ≥0.9 slice of the
    // τ=0.5 scored memo: the memo's gate is on the ROUNDED jaccard, so
    // slicing the looser frame is exactly the ≥0.9 rounded filter this
    // function used to apply after its own kernel pass. The private
    // text-groupBy + set-star + candidate + kernel chain the collapse
    // duplicated (a full tokenize of every text class, a second
    // supernode build) is gone; only the CC remains billed here.
    val docs = Tables.documents(spark, dir)
    val u = setClassUniverse(spark, dir)
    val stars = u.textMap.filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("src"), col("rep").as("dst"))
    val stars2 = u.textReps.filter(col("rep") =!= col("srep"))
      .select(col("rep").as("src"), col("srep").as("dst"))
    val repEdges = scoredRepPairs(spark, dir, SweepTaus.min)
      .filter(col("jac") >= CollapseJaccard)
      .select(col("src"), col("dst"))
    // vertices = EVERY quarantined doc (NULL-text docs stay isolated
    // singletons with keep=true, as before)
    val vertices = docs.select(col("doc_id").as("id"))
    GraphCC.connectedComponents(vertices, repEdges.union(stars).union(stars2))
      .select(col("id").as("doc_id"), col("cluster_id").as("canonical_id"))
      .withColumn("keep", col("doc_id") === col("canonical_id"))
      .orderBy("doc_id")
  }

  /** Near-dup CC unroll depth for the oracle twins: hook+jump min-label
    * propagation ([[graft.tiles.Clustering.minLabelCtes]]) converges in
    * <=5 rounds on every SF's dedup graph (near-dup components are
    * band-join-dense, so labels flood them almost immediately — unlike
    * the geo grid's plateau chains); 8 carries >=60% margin, and an
    * under-unroll is a loud driver hash mismatch, never silent. The
    * recursive closure this replaces was quadratic in component size:
    * 6.5 s at sf0.01, paid again by every oracle that embeds c19Sql
    * (c35/c61/c77/c79/c80/c82/c84).
    */
  private val DedupCcRounds = 8

  val c19Sql: String =
    s"""WITH RECURSIVE ${bandRowsCtes.mkString(",\n")},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |),
       |sets AS (SELECT doc_id, list_distinct($shingleHashesSql) AS s FROM fdoc),
       |jac AS (
       |  SELECT c.doc_a, c.doc_b FROM cand c
       |  JOIN sets x ON x.doc_id = c.doc_a
       |  JOIN sets y ON y.doc_id = c.doc_b
       |  WHERE round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
       |    / len(list_distinct(list_concat(x.s, y.s))), 6) >= $CollapseJaccard
       |),
       |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM jac
       |      UNION ALL SELECT doc_b, doc_a FROM jac),
       |${graft.tiles.Clustering.minLabelCtes("dc", DedupCcRounds, Nil, "fdoc", "doc_id", "e").mkString(",\n")}
       |SELECT v AS doc_id, lbl AS canonical_id, v = lbl AS keep
       |FROM dc_m$DedupCcRounds ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C35
  /** Per-source duplicate inflation — the "how much does near-dedup
    * shrink each domain" report every curation run publishes (domains
    * with high inflation are over-crawled; the C30 mixing weights are
    * usually computed AFTER collapse for exactly this reason). Composes
    * the C19 closure with per-doc token mass: one doc_id equi-join and
    * one partial-agg shuffle on source. inflation_micro =
    * total·10⁶ div kept (exact integers; −1 sentinel if a source keeps
    * no canonical at all, so the ANSI div can't hit zero).
    */
  def c35DedupInflation(spark: SparkSession, dir: String): DataFrame = {
    val collapse = c19DedupCollapse(spark, dir).select(col("doc_id"), col("keep"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_toks"))
    docs.join(collapse, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_toks").as("sum_tokens"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L)).as("kept_tokens"))
      .withColumn("inflation_micro", expr(
        "CASE WHEN kept_tokens = 0 THEN -1 ELSE sum_tokens * 1000000 div kept_tokens END"))
      .orderBy("source")
  }

  val c35Sql: String = {
    val c19Body = c19Sql.stripSuffix("ORDER BY doc_id").trim
    s"""WITH collapse AS (
       |$c19Body
       |), d AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_toks
       |  FROM fdoc
       |)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN c.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(d.n_toks) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(CASE WHEN c.keep THEN d.n_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
       |  CASE WHEN SUM(CASE WHEN c.keep THEN d.n_toks ELSE 0 END) = 0 THEN -1
       |       ELSE CAST(SUM(d.n_toks) AS BIGINT) * 1000000
       |         // CAST(SUM(CASE WHEN c.keep THEN d.n_toks ELSE 0 END) AS BIGINT)
       |  END AS inflation_micro
       |FROM d JOIN collapse c USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // --------------------------------------------------------------- C103
  /** C103: group-aware train/val/test split — assign every near-dup
    * CLUSTER (the C19 closure) to one split by hashing its canonical
    * id, instead of hashing each doc (C23). Splitting by doc leaks
    * near-identical text across the train/test boundary — the
    * evaluation-contamination mode C29's n-gram screen then has to
    * catch after the fact; splitting by group prevents it by
    * construction (every member of a cluster lands together). The
    * report quantifies exactly that: per split, the docs and clusters
    * owned under the GROUP split, the doc count the naive DOC split
    * would have assigned, and the number of foreign clusters the doc
    * split scatters INTO this split (0 under the group split, by
    * construction — the spec pins both properties).
    *
    * Shares C23/C29's split hash family (same constants, applied to
    * the canonical id) and the memoized C19 collapse. Scale shape: one
    * doc-sized projection over the collapse frame, two partial aggs
    * onto a 3-key space, and a (cluster, split)-keyed distinct count —
    * map-side partial dedup, nothing grows beyond the cluster count.
    */
  def c103GroupSplit(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(c: Column): Column = {
      val h = pmod(c * lit(2654435761L) + lit(40503L), lit(100L))
      when(h < 80, "train").when(h < 90, "val").otherwise("test")
    }
    val tagged = c19DedupCollapse(spark, dir)
      .select(col("doc_id"), col("canonical_id"))
      .withColumn("doc_split", splitOf(col("doc_id")))
      .withColumn("group_split", splitOf(col("canonical_id")))
    val base = tagged.groupBy(col("group_split").as("split"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("canonical_id")).as("n_clusters"))
    val byDoc = tagged.groupBy(col("doc_split").as("split"))
      .agg(count(lit(1)).as("n_docs_doc_split"))
    val foreign = tagged.filter(col("doc_split") =!= col("group_split"))
      .groupBy(col("doc_split").as("split"))
      .agg(count_distinct(col("canonical_id")).as("n_foreign_clusters"))
    base
      .join(byDoc, Seq("split"), "left")
      .join(foreign, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"),
        coalesce(col("n_docs_doc_split"), lit(0L)).as("n_docs_doc_split"),
        coalesce(col("n_foreign_clusters"), lit(0L)).as("n_foreign_clusters"))
      .orderBy("split")
  }

  val c103Sql: String = {
    val c19Body = c19Sql.stripSuffix("ORDER BY doc_id").trim
    def splitSql(c: String): String =
      s"""CASE WHEN ($c * 2654435761 + 40503) % 100 < 80 THEN 'train'
         |     WHEN ($c * 2654435761 + 40503) % 100 < 90 THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH collapse AS (
       |$c19Body
       |), t AS (
       |  SELECT doc_id, canonical_id,
       |    ${splitSql("doc_id")} AS doc_split,
       |    ${splitSql("canonical_id")} AS group_split
       |  FROM collapse
       |), base AS (
       |  SELECT group_split AS split, COUNT(*) AS n_docs,
       |    COUNT(DISTINCT canonical_id) AS n_clusters
       |  FROM t GROUP BY 1
       |), dd AS (
       |  SELECT doc_split AS split, COUNT(*) AS n_docs_doc_split FROM t GROUP BY 1
       |), fo AS (
       |  SELECT doc_split AS split, COUNT(DISTINCT canonical_id) AS n_foreign_clusters
       |  FROM t WHERE doc_split <> group_split GROUP BY 1
       |)
       |SELECT b.split, b.n_docs, b.n_clusters,
       |  COALESCE(d.n_docs_doc_split, 0) AS n_docs_doc_split,
       |  COALESCE(f.n_foreign_clusters, 0) AS n_foreign_clusters
       |FROM base b LEFT JOIN dd d USING (split) LEFT JOIN fo f USING (split)
       |ORDER BY b.split""".stripMargin
  }

  // ---------------------------------------------------------------- C66
  /** C66: asymmetric containment scoring on the C6 candidates — Broder's
    * OTHER resemblance measure: C(A→B) = |A∩B| / |A|. Jaccard punishes
    * size asymmetry (a paragraph quoted inside a long article scores
    * ~|para|/|article| ≈ 0), so quote/subset duplication — truncated
    * re-crawls, syndicated excerpts, boilerplate-wrapped reposts — is
    * exactly the near-dup class a Jaccard threshold misses; containment
    * scores it ~1 from the small side. Same scale shape as C7:
    * candidate-driven (never all-pairs), per-doc DISTINCT token-hash
    * sets sorted once at the scan, |∩| via the codegen'd
    * `sorted_intersect_count` merge (the C19 kernel), both directions
    * reported plus a ≥[[ContainMicro]] flag on the max.
    */
  val ContainMicro = 900000L

  def c66Containment(spark: SparkSession, dir: String): DataFrame = {
    // r19 class compression (guide §2.3/§8 — the c60/c74 pattern):
    // every c66 column is a function of the endpoints' shingle-hash
    // SETS (n_common by the sorted merge, na/nb the set sizes), so the
    // kernel runs once per set-class pair; doc pairs expand through the
    // doc→srep map with na/nb swapped to follow the (least, greatest)
    // id order, and intra-class pairs are full containment by identity
    // (n_common = na = nb = |s|, cont = 10⁶ exactly). Pinned against
    // the doc-level reference in ClassCompressionSpec.
    val u = setClassUniverse(spark, dir)
    val hintS = bcastHint(u.reps, RepRows, Some(size(col("s"))))
    val sets = u.reps.select(col("doc_id"), col("s"))
      .withColumn("ns", size(col("s")).cast("long"))
    val scoredC = u.repCands.select("doc_a", "doc_b")
      .join(hintS(sets.select(col("doc_id").as("doc_a"),
        col("s").as("sa"), col("ns").as("ka"))), "doc_a")
      .join(hintS(sets.select(col("doc_id").as("doc_b"),
        col("s").as("sb"), col("ns").as("kb"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_intersect_count(sa, sb)").as("nc"), col("ka"), col("kb"))
    val dm = u.docMap
    val hintM = bcastHint(dm, GroupRows)
    val cross = scoredC
      .join(hintM(dm.select(col("srep").as("doc_a"), col("doc_id").as("da"))), "doc_a")
      .join(hintM(dm.select(col("srep").as("doc_b"), col("doc_id").as("db"))), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("nc").as("n_common"),
        when(col("da") < col("db"), col("ka")).otherwise(col("kb")).as("na"),
        when(col("da") < col("db"), col("kb")).otherwise(col("ka")).as("nb"))
    val intra = dm.select(col("srep"), col("doc_id").as("da"))
      .join(hintM(dm.select(col("srep"), col("doc_id").as("db"))), "srep")
      .filter(col("da") < col("db"))
      .join(hintS(sets.select(col("doc_id").as("srep"), col("ns"))), "srep")
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("ns").as("n_common"), col("ns").as("na"), col("ns").as("nb"))
    cross.unionByName(intra)
      .withColumn("cont_a_micro", expr("n_common * 1000000 div na"))
      .withColumn("cont_b_micro", expr("n_common * 1000000 div nb"))
      .withColumn("is_contained",
        (greatest(col("cont_a_micro"), col("cont_b_micro")) >= ContainMicro)
          .cast("long"))
      .orderBy("doc_a", "doc_b")
  }

  val c66Sql: String =
    s"""WITH ${bandRowsCtes.mkString(",\n")},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |),
       |sets AS (
       |  SELECT doc_id, list_distinct($shingleHashesSql) AS hs FROM fdoc
       |),
       |sc AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS n_common,
       |    CAST(len(x.hs) AS BIGINT) AS na, CAST(len(y.hs) AS BIGINT) AS nb
       |  FROM cand c
       |  JOIN sets x ON x.doc_id = c.doc_a
       |  JOIN sets y ON y.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, n_common, na, nb,
       |  n_common * 1000000 // na AS cont_a_micro,
       |  n_common * 1000000 // nb AS cont_b_micro,
       |  CAST(GREATEST(n_common * 1000000 // na, n_common * 1000000 // nb)
       |    >= $ContainMicro AS BIGINT) AS is_contained
       |FROM sc ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- C74
  /** C74: minhash estimator-error report — is the 16-perm signature a
    * good enough Jaccard estimator? For every C6 candidate pair, the
    * signature estimate (matching slots / [[MinHashLsh.NumPerms]]) sits
    * next to the exact hashed-set jaccard (C60's conditioning variable,
    * same kernel), rolled up per exact-jaccard decile: pair count,
    * mean estimate, mean exact, mean |error|. The binomial standard
    * error is √(s(1−s)/16) ≈ 0.12 at s = 0.5 — this report is what
    * justifies (or indicts) the perm count before a 100 TB pass,
    * completing the calibration suite next to C60's band curve and
    * C41's recall eval. Scale shape: candidate-driven; signatures and
    * sorted hash sets are map-side per-doc projections, the matched
    * count a zip_with fold, |∩| the codegen'd sorted merge; one decile
    * partial agg.
    */
  def c74MinhashError(spark: SparkSession, dir: String): DataFrame = {
    // r18: class-compressed (see [[setClassUniverse]]) — the signature
    // (hence `matched`) and the sorted hash set (hence jac) are
    // functions of the set class, so the zip_with fold and the merge
    // kernel run once per CLASS pair and the decile agg weights by
    // exact integer multiplicities. Intra-class pairs carry
    // matched = NumPerms and ni = |s| by identity: est_micro =
    // jac_micro = 1000000 exactly, no kernel work.
    val u = setClassUniverse(spark, dir)
    val k = u.docMap.groupBy("srep").agg(count(lit(1)).as("kk"))
    // gated broadcast hints — the sealed rep frames carry no size
    // statistics, see the c60 comment (210 MB array shuffle otherwise)
    val hintS = bcastHint(u.reps, RepRows, Some(size(col("s")) + NumPerms))
    val sigs = u.reps
      .select(col("doc_id"), signature(col("s")).as("sig"), col("s").as("hs"))
    val cross = u.repCands.select("doc_a", "doc_b")
      .join(hintS(sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga"),
        col("hs").as("ha"))), "doc_a")
      .join(hintS(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigb"),
        col("hs").as("hb"))), "doc_b")
      .join(hintS(k.select(col("srep").as("doc_a"), col("kk").as("ka"))), "doc_a")
      .join(hintS(k.select(col("srep").as("doc_b"), col("kk").as("kb"))), "doc_b")
      .withColumn("matched", expr(
        "aggregate(zip_with(siga, sigb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (a, v) -> a + v)"))
      .withColumn("ni", expr("sorted_intersect_count(ha, hb)"))
      .select((col("ka") * col("kb")).as("m"),
        expr(s"matched * 1000000 div ${MinHashLsh.NumPerms}").as("est_micro"),
        expr("ni * 1000000 div (size(ha) + size(hb) - ni)").as("jac_micro"))
    val intra = k.filter(col("kk") >= 2L)
      .select(expr("kk * (kk - 1) div 2").as("m"),
        lit(1000000L).as("est_micro"), lit(1000000L).as("jac_micro"))
    cross.unionByName(intra)
      .withColumn("decile", least(expr("jac_micro div 100000"), lit(9L)))
      .withColumn("abs_err", abs(col("est_micro") - col("jac_micro")))
      .groupBy("decile")
      .agg(sum("m").as("n_pairs"),
        expr("sum(est_micro * m) div sum(m)").as("mean_est_micro"),
        expr("sum(jac_micro * m) div sum(m)").as("mean_jac_micro"),
        expr("sum(abs_err * m) div sum(m)").as("mean_err_micro"))
      .orderBy("decile")
  }

  val c74Sql: String =
    s"""WITH ${bandRowsCtes.mkString(",\n")},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |),
       |sets AS (
       |  SELECT t.doc_id, list_distinct(t.ths) AS hs, m.mhs
       |  FROM toks t JOIN mh m ON m.doc_id = t.doc_id
       |),
       |pr AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(list_sum(list_transform(range(1, ${NumPerms + 1}),
       |      i -> CASE WHEN x.mhs[i] = y.mhs[i] THEN 1 ELSE 0 END)) AS BIGINT) AS matched,
       |    CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS ni,
       |    CAST(len(x.hs) AS BIGINT) AS na, CAST(len(y.hs) AS BIGINT) AS nb
       |  FROM cand c
       |  JOIN sets x ON x.doc_id = c.doc_a
       |  JOIN sets y ON y.doc_id = c.doc_b
       |),
       |q AS (
       |  SELECT matched * 1000000 // $NumPerms AS est_micro,
       |    ni * 1000000 // (na + nb - ni) AS jac_micro
       |  FROM pr
       |),
       |q2 AS (
       |  SELECT LEAST(jac_micro // 100000, 9) AS decile, est_micro, jac_micro,
       |    abs(est_micro - jac_micro) AS abs_err
       |  FROM q
       |)
       |SELECT decile, COUNT(*) AS n_pairs,
       |  CAST(SUM(est_micro) AS BIGINT) // COUNT(*) AS mean_est_micro,
       |  CAST(SUM(jac_micro) AS BIGINT) // COUNT(*) AS mean_jac_micro,
       |  CAST(SUM(abs_err) AS BIGINT) // COUNT(*) AS mean_err_micro
       |FROM q2 GROUP BY decile ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- C77
  /** C77: quality-aware canonical selection — C19's closure with the
    * OTHER keep rule production pipelines actually use (CCNet keeps
    * the best-perplexity member; most curation stacks keep the
    * highest-quality or longest member, not the lowest id): within
    * each near-dup cluster keep the member with the highest C3
    * quality score, smallest doc_id on ties. Emits the full
    * per-document audit row (cluster, chosen best, own quality, the
    * keep bit) so a downstream filter is one equi-join.
    *
    * Scale shape: composes two memoized intermediates (the C19
    * closure, each queried doc's scan-stage quality columns) with ONE
    * cluster-keyed argmax — `min(struct(-quality, id))` is
    * map-side-combinable partial agg, never a window over the corpus
    * (the hottest cluster would be the most-duplicated text — C40's
    * argument) — and one cluster-keyed join back. The tiebreak pair
    * packs into a single struct ordering so both engines agree on
    * every tie.
    */
  def c77KeepBest(spark: SparkSession, dir: String): DataFrame = {
    val closure = c19DedupCollapse(spark, dir).select("doc_id", "canonical_id")
    val qual = graft.text.TextQueries.c3QualityScore(spark, dir)
      .select(col("doc_id"), col("quality_micro"))
    val joined = closure.join(qual, "doc_id")
    val best = joined.groupBy("canonical_id")
      .agg(min(struct((-col("quality_micro")).as("nq"), col("doc_id").as("id"))).as("b"),
        count(lit(1)).as("cluster_size"))
      .select(col("canonical_id"), col("b.id").as("best_id"), col("cluster_size"))
    joined.join(best, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("best_id"), col("cluster_size"),
        col("quality_micro"), (col("doc_id") === col("best_id")).as("keep_best"))
      .orderBy("doc_id")
  }

  val c77Sql: String = {
    val c19Body = c19Sql.stripSuffix("ORDER BY doc_id").trim
    val c3Body = graft.text.TextQueries.c3Sql.stripSuffix("ORDER BY doc_id").trim
    s"""WITH collapse AS (
       |$c19Body
       |), q AS (
       |$c3Body
       |), j AS (
       |  SELECT c.doc_id, c.canonical_id, q.quality_micro
       |  FROM collapse c JOIN q USING (doc_id)
       |), best AS (
       |  SELECT canonical_id, doc_id AS best_id FROM (
       |    SELECT canonical_id, doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY canonical_id ORDER BY quality_micro DESC, doc_id) AS rn
       |    FROM j
       |  ) WHERE rn = 1
       |), sz AS (
       |  SELECT canonical_id, COUNT(*) AS cluster_size FROM j GROUP BY canonical_id
       |)
       |SELECT j.doc_id, j.canonical_id, b.best_id, s.cluster_size,
       |  j.quality_micro, j.doc_id = b.best_id AS keep_best
       |FROM j JOIN best b USING (canonical_id) JOIN sz s USING (canonical_id)
       |ORDER BY j.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C79
  /** C79: cross-source duplication overlap — the syndication report:
    * for every pair of sources, how many near-dup clusters they SHARE
    * and how many cross-source duplicate pairs that implies
    * (Σ n_a·n_b over shared clusters). This is the matrix a curation
    * team reads to find mirror domains, content farms and wire-copy
    * syndication BEFORE setting C30's mixing weights — within-source
    * duplication inflates one domain (C35's report), cross-source
    * duplication silently double-counts the same text under two
    * domain budgets.
    *
    * Scale shape: the C19 closure joins docs once (doc-keyed), then
    * ONE (cluster, source) partial agg; the pair expansion self-joins
    * that per-cluster source-count frame on the CLUSTER key — rows per
    * cluster bounded by the SOURCE DOMAIN (C22's value-domain
    * argument), so the join fan-out is |sources|² per cluster however
    * many documents a cluster swallows; the final agg is
    * |sources|²-bounded. The hot cluster never matters: its million
    * members collapsed in the first partial agg.
    */
  def c79CrossSource(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = c19DedupCollapse(spark, dir).select("doc_id", "canonical_id")
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("canonical_id", "source").agg(count(lit(1)).as("n"))
    bySrc.select(col("canonical_id"), col("source").as("source_a"), col("n").as("na"))
      .join(bySrc.select(col("canonical_id"), col("source").as("source_b"), col("n").as("nb")),
        "canonical_id")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_clusters"),
        sum(col("na") * col("nb")).as("n_cross_pairs"))
      .orderBy("source_a", "source_b")
  }

  val c79Sql: String = {
    val c19Body = c19Sql.stripSuffix("ORDER BY doc_id").trim
    s"""WITH collapse AS (
       |$c19Body
       |), by_src AS (
       |  SELECT c.canonical_id, d.source, COUNT(*) AS n
       |  FROM collapse c JOIN fdoc d USING (doc_id)
       |  GROUP BY c.canonical_id, d.source
       |)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  COUNT(*) AS n_shared_clusters,
       |  CAST(SUM(a.n * b.n) AS BIGINT) AS n_cross_pairs
       |FROM by_src a JOIN by_src b
       |  ON b.canonical_id = a.canonical_id AND a.source < b.source
       |GROUP BY a.source, b.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  // ---------------------------------------------------------------- C80
  /** C80: quality × duplication cross-tabulation — the one-page answer
    * to "are our duplicates junk?": every document classified by its
    * C36 gate outcome (ok / too_short / low_quality / repetitive) ×
    * its C19 dedup status (canonical / duplicate), with document
    * counts and token mass per cell. If duplicate mass concentrates in the `ok` row the
    * near-dup stage is load-bearing (the gate won't catch it); if it
    * concentrates in the reject rows the gate alone would have dropped
    * most of it — which stage to spend compute on at 100 TB is read
    * straight off this table. Composes two memoized intermediates with
    * one doc-keyed join and a ≤8-row agg; every input column is
    * scan-stage.
    */
  def c80QualityDupCrosstab(spark: SparkSession, dir: String): DataFrame = {
    val gate = graft.text.TextQueries.c36QualityGate(spark, dir)
      .select(col("doc_id"), col("reason"), col("n_tokens"))
    val dup = c19DedupCollapse(spark, dir)
      .select(col("doc_id"),
        when(col("keep"), "canonical").otherwise("duplicate").as("dup_status"))
    gate.join(dup, "doc_id")
      .groupBy("reason", "dup_status")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("reason", "dup_status")
  }

  val c80Sql: String = {
    val c19Body = c19Sql.stripSuffix("ORDER BY doc_id").trim
    val c36Body = graft.text.TextQueries.c36Sql.stripSuffix("ORDER BY doc_id").trim
    s"""WITH collapse AS (
       |$c19Body
       |), gate AS (
       |$c36Body
       |)
       |SELECT g.reason,
       |  CASE WHEN c.keep THEN 'canonical' ELSE 'duplicate' END AS dup_status,
       |  COUNT(*) AS n_docs, CAST(SUM(g.n_tokens) AS BIGINT) AS sum_tokens
       |FROM gate g JOIN collapse c USING (doc_id)
       |GROUP BY g.reason, CASE WHEN c.keep THEN 'canonical' ELSE 'duplicate' END
       |ORDER BY reason, dup_status""".stripMargin
  }

  // ---------------------------------------------------------------- C82
  /** C82: per-source dataset card — the one-row-per-source datasheet
    * (Gebru et al. 2021, "Datasheets for Datasets") a corpus release
    * ships: document and token mass, language spread, mean C3 quality,
    * and the near-dup rate from the C19 closure, all in exact integer
    * units. C30 reads this to set mixing weights, C35 explains the
    * dup column, C79 the cross-source edges — this is the summary
    * table those reports drill into.
    *
    * Scale shape: one doc-keyed join chain over three already-reduced
    * or scan-stage inputs (documents' own columns, C3's scan-stage
    * quality, the memoized closure's keep bit), then ONE source-keyed
    * partial agg; distinct languages per source via a tiny
    * (source, lang) pre-agg, never collect_set over documents.
    */
  def c82DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(graft.text.TextQueries.tokens(col("text"))).cast("long").as("n_toks"))
    val qual = graft.text.TextQueries.c3QualityScore(spark, dir)
      .select(col("doc_id"), col("quality_micro"))
    val dup = c19DedupCollapse(spark, dir).select(col("doc_id"), col("keep"))
    val base = docs.join(qual, "doc_id").join(dup, "doc_id")
    val langs = docs.select("source", "lang").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_langs"))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("sum_tokens"),
        expr("sum(quality_micro) div count(1)").as("mean_quality_micro"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dups"))
      .withColumn("dup_ppm", expr("n_dups * 1000000 div n_docs"))
      .join(langs, "source")
      .select("source", "n_docs", "sum_tokens", "n_langs",
        "mean_quality_micro", "n_dups", "dup_ppm")
      .orderBy("source")
  }

  val c82Sql: String = {
    val c19Body = c19Sql.stripSuffix("ORDER BY doc_id").trim
    val c3Body = graft.text.TextQueries.c3Sql.stripSuffix("ORDER BY doc_id").trim
    s"""WITH collapse AS (
       |$c19Body
       |), q AS (
       |$c3Body
       |), d AS (
       |  SELECT doc_id, source, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM fdoc
       |), langs AS (
       |  SELECT source, COUNT(*) AS n_langs FROM (
       |    SELECT DISTINCT source, lang FROM d
       |  ) GROUP BY source
       |), agg AS (
       |  SELECT d.source, COUNT(*) AS n_docs,
       |    CAST(SUM(d.n_toks) AS BIGINT) AS sum_tokens,
       |    CAST(SUM(q.quality_micro) AS BIGINT) // COUNT(*) AS mean_quality_micro,
       |    CAST(SUM(CASE WHEN c.keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dups
       |  FROM d JOIN q USING (doc_id) JOIN collapse c USING (doc_id)
       |  GROUP BY d.source
       |)
       |SELECT a.source, a.n_docs, a.sum_tokens, l.n_langs,
       |  a.mean_quality_micro, a.n_dups, a.n_dups * 1000000 // a.n_docs AS dup_ppm
       |FROM agg a JOIN langs l USING (source)
       |ORDER BY a.source""".stripMargin
  }

  // ---------------------------------------------------------------- C84
  /** C84: near-dup cluster-size distribution — how many clusters have
    * exactly k members, with the document and token mass each size
    * class carries: the shape that distinguishes healthy duplication
    * (a long tail of pairs/triples) from a mirror explosion (one
    * monster cluster owning a fraction of the corpus). This is the
    * first thing to check before trusting C35's per-source inflation
    * or C82's dup rates — both average away exactly the tail this
    * reports. Size 1 = unique documents, included so the histogram
    * re-sums to the corpus.
    *
    * Scale shape: the memoized closure collapses per-cluster in one
    * cluster-keyed partial agg (with the token mass summed in the same
    * pass), then the count-of-counts agg runs over the CLUSTER frame
    * (C75's frequency-of-frequencies argument — never the corpus).
    */
  def c84ClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.text.TextQueries.tokens(col("text"))).cast("long").as("n_toks"))
    c19DedupCollapse(spark, dir).select("doc_id", "canonical_id")
      .join(docs, "doc_id")
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("k"), sum("n_toks").as("toks"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("k")).as("n_docs"), sum("toks").as("sum_tokens"))
      .orderBy("k")
  }

  val c84Sql: String = {
    val c19Body = c19Sql.stripSuffix("ORDER BY doc_id").trim
    s"""WITH collapse AS (
       |$c19Body
       |), d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM fdoc
       |), per_cluster AS (
       |  SELECT c.canonical_id, COUNT(*) AS k, CAST(SUM(d.n_toks) AS BIGINT) AS toks
       |  FROM collapse c JOIN d USING (doc_id) GROUP BY c.canonical_id
       |)
       |SELECT k, COUNT(*) AS n_clusters, CAST(SUM(k) AS BIGINT) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS sum_tokens
       |FROM per_cluster GROUP BY k ORDER BY k""".stripMargin
  }

  // ---------------------------------------------------------------- C85
  /** C85: dedup threshold-sensitivity sweep — the closure re-run at
    * jaccard τ ∈ {0.5, 0.7, 0.9} over the SAME candidate set and
    * scored-pair frame, reporting clusters / multi-clusters / docs
    * removed / max cluster size per τ: the table consulted BEFORE
    * committing a collapse threshold to a 100 TB pass (C60's S-curve
    * says what the LSH bands recall at each τ; this says what the
    * corpus loses). The expensive work — LSH candidates, sorted-merge
    * jaccard — happens ONCE at the sweep minimum and localCheckpoints;
    * the τ levels then form an EXACT monotone hierarchy: the τ=0.9
    * level IS C19's memoized closure (same stars, same edge set — zero
    * extra work), and each looser level's components are the
    * components of the CONDENSED graph whose vertices are the previous
    * level's clusters and whose edges are the mid-band pairs
    * (τ_lo ≤ jac < τ_hi) mapped through the previous labels — sound
    * because the edge set only grows as τ falls, so coarser components
    * are unions of finer ones. Each extra CC runs on cluster-count
    * vertices with band-sized edges instead of re-closing the corpus
    * (the naive 3×-full-closure form measured 19.9 s at sf0.1; this
    * shape ~9 s, the remainder being the irreducible one-pass scoring
    * of the τ≥0.5 candidate set, which no τ-level can skip).
    */
  val SweepTaus = Seq(0.5, 0.7, 0.9)

  /** Memoized LSH-candidate pairs between set-representatives with
    * their EXACT hashed-shingle jaccard ≥ `minJac` — the scored-pair
    * frame the C85 sweep closes over and C93's cross-lingual screen
    * filters (C19's own scoring is the τ=CollapseJaccard slice of this
    * recipe). Same star/set-dup compression as C19: identical texts
    * and identical shingle SETS collapse before candidate generation,
    * so the frame carries one row per distinct-set pair.
    */
  private val scoredCache =
    new graft.util.Memo[(String, String, Long), DataFrame]

  private[dedup] def scoredRepPairs(spark: SparkSession, dir: String,
      minJac: Double): DataFrame =
    scoredCache.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, math.round(minJac * 1e6)), {
        val u = setClassUniverse(spark, dir)
        scoreRepCands(u.reps, u.repCands.select("doc_a", "doc_b"), minJac)
          .seal()
      })

  /** Set-class universe for class-compressed candidate scoring (r18
    * optimization, guide §2.3/§8 — decide with small rows, expand
    * once): every per-pair quantity the C60/C74/C93 reports compute —
    * exact hashed-set jaccard, containment, signature slot agreement,
    * band agreement — is a function of the two endpoints' shingle-hash
    * SETS alone, so all doc pairs spanning the same pair of set
    * classes share one value. This universe is the two-level star
    * compression [[scoredRepPairsFor]] always ran (identical text →
    * text-rep, identical set → set-rep = `srep`), plus the two pieces
    * a class-first query needs: the doc→srep expansion map and the
    * CLASS-level candidate pairs with their band agreement. Scoring
    * then runs the sorted-merge kernel over |class pairs| rows instead
    * of |doc pairs| (sf0.1: ~7.7M doc pairs vs rep-scale pairs), and
    * doc-level answers come back by cheap long-key equi-join expansion
    * (row reports: C93) or exact integer multiplicities (aggregate
    * reports: C60/C74). Value-identity is structural, and pinned in
    * ClassCompressionSpec: the minhash signature — hence every band
    * hash — is a deterministic function of the set, so class-level
    * band collisions are exactly doc-level ones, and intra-class pairs
    * are all-bands candidates at jaccard 1.
    */
  private[dedup] final case class SetClassUniverse(
      docMap: DataFrame,   // (doc_id, srep) for every quarantined non-NULL-text doc
      textMap: DataFrame,  // (doc_id, rep) — doc → text-class rep (r19, c7)
      textReps: DataFrame, // (rep, text, s, srep) — one row per TEXT class
      reps: DataFrame,     // (doc_id, text, s) — one row per set class
      repCands: DataFrame) // (doc_a, doc_b, n_bands) — class-level candidates

  private val universeCache =
    new graft.util.Memo[(String, String), SetClassUniverse]

  /** Two-level class star (identical text → rep, identical shingle set
    * → srep) over any (doc_id, text) frame — the shared construction
    * behind [[setClassUniverse]] and [[scoredRepPairsFor]].
    *
    * r19 (guide §2.3 — shuffle keys and metadata, never payloads): the
    * text-class agg and every class join key on a 128-bit TEXT DIGEST
    * (two independently-seeded xxhash64 lanes) instead of the raw
    * `text` column, so document bodies never ride a shuffle as keys;
    * the rep's text re-attaches through ONE doc_id equi-join (broadcast
    * of the class-rep ids below the groups gate — zero text movement;
    * a long-keyed equi-join above it). The set-class key gets the same
    * treatment: the sorted shingle-hash ARRAY was the groupBy/join key,
    * now its two digest lanes are, and the array stays a payload.
    * Exactness: a wrong class merge needs a simultaneous collision in
    * both independent 64-bit lanes — P ≈ n²/2^129, ~10⁻¹⁵ at 10¹²
    * documents — and the oracle hash gate would surface one as a value
    * mismatch on any tested corpus.
    *
    * NULL-text docs are filtered EXPLICITLY (r18 advice): they carry no
    * shingle set, every oracle drops them from candidate relations via
    * NULL-key equi-joins, and the pre-digest form dropped them
    * implicitly in its text/s equi-joins — the digest lanes of a NULL
    * are non-NULL (the hash of zero fields is the seed), so without
    * this filter the digest form would silently START matching them.
    */
  private def setClassStar(docsIn: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = docsIn.filter(col("text").isNotNull)
    def d1(c: Column): Column = xxhash64(c)
    def d2(c: Column): Column = xxhash64(lit(0x9E3779B97F4A7C15L), c)
    val hdocs = docs.select(col("doc_id"), d1(col("text")).as("h1"),
      d2(col("text")).as("h2")).seal()
    val textClasses = hdocs.groupBy("h1", "h2").agg(min("doc_id").as("rep"))
    // |text classes| gate, same row cap as the supernode groups: narrow
    // 3-long rows, broadcastable to ~4M classes; above it every class
    // join is a plain long-keyed equi-join under AQE
    val hintT = bcastHint(textClasses, GroupRows)
    val repText = docs
      .join(hintT(textClasses.select(col("rep").as("doc_id"))), "doc_id")
      .select(col("doc_id"), col("text"))
    val withSet = repText
      .withColumn("s", array_sort(array_distinct(shingleHashes(col("text")))))
      .withColumn("sh1", d1(col("s")))
      .withColumn("sh2", d2(col("s")))
    val setClasses = withSet.groupBy("sh1", "sh2").agg(min("doc_id").as("srep"))
    val textReps = withSet
      .join(setClasses, Seq("sh1", "sh2"))
      .select(col("doc_id").as("rep"), col("text"), col("s"), col("srep"))
      .seal()
    val reps = textReps.filter(col("rep") === col("srep"))
      .select(col("rep").as("doc_id"), col("text"), col("s")).seal()
    val textMap = hdocs.join(hintT(textClasses), Seq("h1", "h2"))
      .select(col("doc_id"), col("rep")).seal()
    (textMap, textReps, reps)
  }

  private[dedup] def setClassUniverse(spark: SparkSession, dir: String): SetClassUniverse =
    universeCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      val (textMap, textReps, reps) = setClassStar(Tables.documents(spark, dir))
      val rs = textReps.select(col("rep"), col("srep"))
      val docMap = textMap.join(bcastHint(rs, GroupRows)(rs), "rep")
        .select(col("doc_id"), col("srep")).seal()
      SetClassUniverse(docMap, textMap, textReps, reps,
        candidatePairsFor(reps).seal())
    })

  /** The scoring recipe on any (doc_id, text) frame — shared by the
    * memoized query path and the broadcast-dispatch specs.
    */
  private[graft] def scoredRepPairsFor(docs: DataFrame, minJac: Double): DataFrame = {
    val (_, _, reps) = setClassStar(docs)
    scoreRepCands(reps, candidatePairsFor(reps).select("doc_a", "doc_b"), minJac)
  }

  /** Kernel scoring of class-level candidate pairs against the rep set
    * frame — the tail every scored-pair consumer shares.
    */
  private def scoreRepCands(reps: DataFrame, cands: DataFrame,
      minJac: Double): DataFrame = {
    // rows+elements-gated hint — plain equi-joins above the gate (see
    // the dispatch scaladoc at the top of this object)
    val hintS = bcastHint(reps, RepRows, Some(size(col("s"))))
    val sets = reps.select(col("doc_id"), col("s")).withColumn("ns", size(col("s")))
    cands
      .join(hintS(sets.select(col("doc_id").as("doc_a"),
        col("s").as("sa"), col("ns").as("na"))), "doc_a")
      .join(hintS(sets.select(col("doc_id").as("doc_b"),
        col("s").as("sb"), col("ns").as("nb"))), "doc_b")
      // size-ratio prefilter: jac ≤ min/max, so min/max < τ prunes the
      // pair before the merge kernel. The final gate is on the ROUNDED
      // jaccard (6 dp), so the prune carries the rounding slack (5e-7):
      // a pair with true jac in [τ−5e-7, τ) rounds UP to τ and must
      // reach the exact filter, not be pruned here (r18 advice — needs
      // ~10⁶-element sets to matter, but the exactness argument should
      // not depend on that)
      .filter(least(col("na"), col("nb")).cast("double")
        >= lit(minJac - 1e-6) * greatest(col("na"), col("nb")))
      .withColumn("inter", sorted_intersect_count(col("sa"), col("sb")))
      .withColumn("jac", round(col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")).cast("double"), 6))
      .filter(col("jac") >= minJac)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"), col("jac"))
  }

  def c85ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = scoredRepPairs(spark, dir, SweepTaus.min)
    def stats(lab: DataFrame, tau: Double): DataFrame =
      lab.groupBy("cl").agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("k") >= 2L, 1L).otherwise(0L)).as("n_multi"),
          sum(col("k") - 1L).as("docs_removed"),
          max("k").as("max_cluster"))
        .select(lit(math.round(tau * 1e6)).as("tau_micro"),
          col("n_clusters"), col("n_multi"), col("docs_removed"), col("max_cluster"))
    // one level coarser: CC over the PREVIOUS level's clusters with only
    // the mid-band edges mapped through its labels (exact by edge-set
    // monotonicity in τ)
    def coarsen(lab: DataFrame, lo: Double, hi: Double): DataFrame = {
      val band = scored.filter(col("jac") >= lo && col("jac") < hi)
        .join(lab.select(col("doc_id").as("src"), col("cl").as("cs")), "src")
        .join(lab.select(col("doc_id").as("dst"), col("cl").as("cd")), "dst")
        .filter(col("cs") =!= col("cd"))
        .select(col("cs").as("src"), col("cd").as("dst")).distinct()
      val sup = GraphCC.connectedComponents(lab.select(col("cl").as("id")).distinct(), band)
      lab.join(sup.select(col("id").as("cl"), col("cluster_id")), "cl")
        .select(col("doc_id"), col("cluster_id").as("cl")).seal()
    }
    val lab9 = c19DedupCollapse(spark, dir)
      .select(col("doc_id"), col("canonical_id").as("cl"))
    val lab7 = coarsen(lab9, 0.7, 0.9)
    val lab5 = coarsen(lab7, 0.5, 0.7)
    stats(lab5, 0.5).union(stats(lab7, 0.7)).union(stats(lab9, 0.9))
      .orderBy("tau_micro")
  }

  val c85Sql: String = {
    def tauBlock(tag: String, tau: Double): String = {
      val tm = math.round(tau * 1e6)
      s"""e$tag AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM scored WHERE jac >= $tau
         |  UNION ALL SELECT doc_b, doc_a FROM scored WHERE jac >= $tau),
         |${graft.tiles.Clustering.minLabelCtes(s"r$tag", DedupCcRounds, Nil, "fdoc", "doc_id", s"e$tag").mkString(",\n")},
         |g$tag AS (
         |  SELECT lbl AS cid, COUNT(*) AS k FROM r${tag}_m$DedupCcRounds GROUP BY lbl
         |),
         |a$tag AS (
         |  SELECT CAST($tm AS BIGINT) AS tau_micro, COUNT(*) AS n_clusters,
         |    CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
         |    CAST(SUM(k - 1) AS BIGINT) AS docs_removed,
         |    CAST(MAX(k) AS BIGINT) AS max_cluster
         |  FROM g$tag
         |)""".stripMargin
    }
    s"""WITH RECURSIVE ${bandRowsCtes.mkString(",\n")},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |),
       |sets AS (SELECT doc_id, list_distinct($shingleHashesSql) AS s FROM fdoc),
       |scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.s, y.s))), 6) AS jac
       |  FROM cand c
       |  JOIN sets x ON x.doc_id = c.doc_a
       |  JOIN sets y ON y.doc_id = c.doc_b
       |),
       |${tauBlock("5", 0.5)},
       |${tauBlock("7", 0.7)},
       |${tauBlock("9", 0.9)}
       |SELECT * FROM a5 UNION ALL SELECT * FROM a7 UNION ALL SELECT * FROM a9
       |ORDER BY tau_micro""".stripMargin
  }

  // ---------------------------------------------------------------- C93
  /** C93: cross-lingual near-dup screen — the C6/C19 candidate pairs
    * whose endpoints carry DIFFERENT language tags, with the exact
    * hashed-shingle jaccard: in a crawled corpus these are
    * machine-translation spam, template floods rendered per locale, or
    * mislabeled language IDs — content the WITHIN-language dedup never
    * compares if a pipeline shards dedup by lang (the common scale-out
    * shortcut), and exactly what this screen argues against doing
    * blindly. Works at the FULL document level (C6's candidates, not
    * the rep-compressed frame) so an identical text carrying two
    * different lang tags — the pure mislabel case — surfaces too.
    * Similarity is the HASHED-token-set jaccard (the set family every
    * screen hashes into — C60's conditioning variable), scored by the
    * codegen'd sorted-merge kernel: the boxed string-array
    * array_intersect/array_union form measured 68.8 s at sf0.1 on this
    * exact candidate set (the d14/c60 trap, re-measured — c7 never
    * paid it in the bench because COUNT prunes its unreferenced
    * jaccard column; the filter here forces evaluation), the
    * primitive-long merge ~10 s cold standalone including the shared
    * candidate build, ~5 s with it warm. Candidate-bounded, never
    * all-pairs; two doc-keyed lang lookups; deterministic ordering.
    */
  val CrossLingualJac = 0.5

  def c93CrossLingual(spark: SparkSession, dir: String): DataFrame = {
    // r18: class-compressed (see [[setClassUniverse]]) — the jaccard of
    // a candidate doc pair is its set-class pair's jaccard, and the
    // ≥ τ qualifying class pairs are EXACTLY the memoized scored-pair
    // frame (τ = SweepTaus.min = CrossLingualJac) the prep line already
    // builds for C85/C137. So this query runs zero kernel merges: the
    // scored class pairs expand to doc pairs through two long-key
    // equi-joins on the doc→srep map (plus the jaccard-1 intra-class
    // pairs, which the old doc-level form scored 7.7M-wide at sf0.1),
    // and the lang filter applies on the expanded rows as before.
    // [[crossLingualScore]] remains the frame-level reference the
    // ScaleSmoke pin and ClassCompressionSpec drive.
    val u = setClassUniverse(spark, dir)
    val dl = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(u.docMap, "doc_id")
    val scored = scoredRepPairs(spark, dir, CrossLingualJac)
    val cross = scored
      .join(dl.select(col("srep").as("src"), col("doc_id").as("da"),
        col("lang").as("la")), "src")
      .join(dl.select(col("srep").as("dst"), col("doc_id").as("db"),
        col("lang").as("lb")), "dst")
      .filter(col("la") =!= col("lb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        when(col("da") < col("db"), col("la")).otherwise(col("lb")).as("lang_a"),
        when(col("da") < col("db"), col("lb")).otherwise(col("la")).as("lang_b"),
        round(col("jac") * 1e6, 0).cast("long").as("jac_micro"))
    val intra = dl.select(col("srep"), col("doc_id").as("da"), col("lang").as("la"))
      .join(dl.select(col("srep"), col("doc_id").as("db"), col("lang").as("lb")),
        "srep")
      .filter(col("da") < col("db") && col("la") =!= col("lb"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("la").as("lang_a"), col("lb").as("lang_b"),
        lit(1000000L).as("jac_micro"))
    cross.unionByName(intra).orderBy("doc_a", "doc_b")
  }

  /** Frame-level C93 core over any (doc_id, text, lang) frame and its
    * candidate list — the ScaleSmoke 10x pin drives it with a planted
    * pair structure so candidate-boundedness is asserted, not claimed.
    */
  private[graft] def crossLingualScore(docs: DataFrame, cands: DataFrame): DataFrame = {
    val langs = docs.select("doc_id", "lang")
    val sets = docs.select(col("doc_id"),
        array_sort(array_distinct(transform(tokens(col("text")), tokenHash(_))))
          .as("s"))
      .withColumn("ns", size(col("s")))
    cands.select("doc_a", "doc_b")
      .join(sets.select(col("doc_id").as("doc_a"),
        col("s").as("sa"), col("ns").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("s").as("sb"), col("ns").as("nb")), "doc_b")
      .withColumn("inter", sorted_intersect_count(col("sa"), col("sb")))
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= CrossLingualJac)
      .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a")), "doc_a")
      .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b")), "doc_b")
      .filter(col("lang_a") =!= col("lang_b"))
      .select(col("doc_a"), col("doc_b"), col("lang_a"), col("lang_b"),
        round(col("jaccard") * 1e6, 0).cast("long").as("jac_micro"))
      .orderBy("doc_a", "doc_b")
  }

  val c93Sql: String =
    s"""WITH ${bandRowsCtes.mkString(",\n")},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |),
       |sets AS (
       |  SELECT doc_id, list_distinct(list_transform(string_split(text, ' '),
       |    w -> ${tokenHashSql("w")})) AS s
       |  FROM fdoc
       |),
       |scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.s, y.s))), 6) AS jac
       |  FROM cand c
       |  JOIN sets x ON x.doc_id = c.doc_a
       |  JOIN sets y ON y.doc_id = c.doc_b
       |)
       |SELECT s.doc_a, s.doc_b, a.lang AS lang_a, b.lang AS lang_b,
       |  CAST(ROUND(s.jac * 1e6) AS BIGINT) AS jac_micro
       |FROM scored s
       |JOIN fdoc a ON a.doc_id = s.doc_a
       |JOIN fdoc b ON b.doc_id = s.doc_b
       |WHERE s.jac >= $CrossLingualJac AND a.lang <> b.lang
       |ORDER BY s.doc_a, s.doc_b""".stripMargin

  // --------------------------------------------------------------- C135
  /** C135: LSH band-bucket balance report — the dedup-path twin of
    * C134's IVF list skew, and the COST predictor for the C6 bucket
    * join: per band, the bucket count, the hottest bucket's size and
    * corpus share (ppm), and the exact candidate-pair mass
    * Σ k·(k−1)/2 the band would generate doc-level — the number that
    * says, BEFORE paying for a 100 TB pass, whether a boilerplate
    * flood has turned one bucket into a quadratic hot spot (the
    * supernode compression and AQE skew-join are the mitigations; this
    * table is the tripwire that says they're needed). C60/C74/C85
    * calibrate the family's ACCURACY; nothing calibrated its skew
    * until this. Plan: the shared band rows, one (band, bh) partial
    * agg (high-cardinality key), one Bands-row rollup — nothing
    * pair-sized is ever materialized; the pair mass is computed from
    * bucket COUNTS, which is the whole point.
    */
  def c135LshBalance(spark: SparkSession, dir: String): DataFrame =
    bandBalanceOn(bandRows(spark, dir)
      .groupBy("band", "bh").agg(count(lit(1)).as("k")))

  /** The per-band rollup on any (band, bh, k) bucket-count frame.
    *
    * k·(k−1) fits a Long only for k ≲ 3.04e9, and the boilerplate-flood
    * regime this tripwire is advertised to detect is exactly where one
    * bucket can exceed that — a wrapped/negative pair mass is the one
    * failure mode the report must never have. So the pair mass is
    * accumulated in DECIMAL(38,0) (covers any k and any per-band sum)
    * and the final BIGINT cast is loudly guarded with `raise_error`;
    * the oracle's HUGEINT arithmetic + checked HUGEINT→BIGINT cast is
    * DuckDB's native equivalent of the same loud failure.
    */
  private[graft] def bandBalanceOn(buckets: DataFrame): DataFrame =
    buckets.groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        sum("k").as("n_docs"),
        max("k").as("max_bucket"),
        // sum of k·(k−1) — even by construction, halved after the guard
        sum(expr("CAST(k AS DECIMAL(38,0)) * (k - 1)")).as("pm2"))
      .withColumn("cand_pairs", expr(
        // pm2/2 fits a BIGINT iff pm2 ≤ 2·Long.MaxValue
        "CASE WHEN pm2 > CAST('18446744073709551614' AS DECIMAL(38,0)) " +
          "THEN CAST(raise_error('c135: per-band candidate-pair mass " +
          "overflows BIGINT — the skew tripwire would wrap; widen the " +
          "report schema or shard the band') AS BIGINT) " +
          "ELSE CAST(pm2 / 2 AS BIGINT) END"))
      .withColumn("top_share_ppm", expr("(max_bucket * 1000000) div n_docs"))
      .select("band", "n_buckets", "n_docs", "max_bucket", "top_share_ppm",
        "cand_pairs")
      .orderBy("band")

  val c135Sql: String =
    s"""WITH ${bandRowsCtes.mkString(",\n")},
       |bk AS (SELECT band, bh, CAST(COUNT(*) AS BIGINT) AS k FROM bands GROUP BY band, bh)
       |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(k) AS BIGINT) AS n_docs,
       |  CAST(MAX(k) AS BIGINT) AS max_bucket,
       |  (CAST(MAX(k) AS BIGINT) * 1000000) // CAST(SUM(k) AS BIGINT) AS top_share_ppm,
       |  CAST(SUM(CAST(k AS HUGEINT) * (k - 1) // 2) AS BIGINT) AS cand_pairs
       |FROM bk GROUP BY band ORDER BY band""".stripMargin

  // --------------------------------------------------------------- C137
  /** C137: LSH banding TUNER — the decision table on top of the
    * calibration family: C60 plots the S-curve of the SHIPPED (2×8)
    * banding, C74 its estimator error, C135 its skew; this query
    * answers the question those reports raise — "should the 16-perm
    * budget be banded differently?" — by evaluating EVERY factorization
    * b×r = 16 ∈ [[TuneFactorizations]] on the real corpus: per
    * factorization, (a) the corpus-wide candidate-pair mass its bucket
    * join would generate (the COST a full pass pays — computed from
    * bucket counts exactly like C135, DECIMAL-safe with the same loud
    * guard), and (b) the fraction of TRUE near-dup pairs it detects
    * (≥ 1 band collides), truth = the scored distinct-set pairs with
    * exact Jaccard ≥ 0.5 (the memoized C85 ground-truth frame).
    * Honest conditioning caveat, same as C74: truth pairs are the ones
    * the shipped banding surfaced, so `recall` is RELATIVE to (2×8) —
    * detected == true_pairs at (2,8) by construction (spec-pinned
    * identity), and the table shows what coarser/finer bandings would
    * have kept or lost of that set plus what they'd cost. An absolute
    * ground truth would need the all-pairs scan LSH exists to avoid.
    *
    * Scale shape: ONE signature scan sealed; per factorization a
    * map-side slice-rehash + (band,bh) partial agg (the C135 plan) for
    * cost, and one bounded pass over the sealed truth⋈signature frame
    * (|scored pairs| rows) for detection — nothing pair-sized beyond
    * the already-memoized truth frame; no driver scalars at all.
    */
  val TuneFactorizations: Seq[(Int, Int)] =
    Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  def c137LshTune(spark: SparkSession, dir: String): DataFrame = {
    // the session-shared sealed signature frame (also feeds the C6
    // candidate memo) — NOT a private rebuild: a second corpus-sized
    // minhash pass billed to c137 would defeat the prep accounting
    val sigs = signatures(spark, dir)
    def sliceHash(sig: Column, bn: Int, r: Int): Column =
      (0 until r).map(i => sig.getItem(bn * r + i))
        .reduceLeft((acc, s) => (acc * lit(31L) + s) % lit(M))
    val truth = scoredRepPairs(spark, dir, SweepTaus.min).select("src", "dst")
    val truthSig = truth
      .join(sigs.select(col("doc_id").as("src"), col("sig").as("sig_a")), "src")
      .join(sigs.select(col("doc_id").as("dst"), col("sig").as("sig_b")), "dst")
      .select("sig_a", "sig_b")
      .seal()
    TuneFactorizations.map { case (b, r) =>
      val cost = sigs
        .select(posexplode(array((0 until b).map(bn =>
          sliceHash(col("sig"), bn, r)): _*)).as(Seq("band", "bh")))
        .groupBy("band", "bh").agg(count(lit(1)).as("k"))
        .agg(sum(expr("CAST(k AS DECIMAL(38,0)) * (k - 1)")).as("pm2"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          expr("CASE WHEN pm2 > CAST('18446744073709551614' AS DECIMAL(38,0)) " +
            "THEN CAST(raise_error('c137: candidate-pair mass overflows BIGINT') " +
            "AS BIGINT) ELSE CAST(pm2 / 2 AS BIGINT) END").as("cand_pairs"))
      val hit = (0 until b).map(bn =>
        when(sliceHash(col("sig_a"), bn, r) === sliceHash(col("sig_b"), bn, r),
          1L).otherwise(0L)).reduce(_ + _) > 0
      val det = truthSig
        .select(when(hit, 1L).otherwise(0L).as("hit"))
        .agg(count(lit(1)).as("true_pairs"),
          coalesce(sum("hit"), lit(0L)).as("detected"))
      cost.crossJoin(det)
        // try_divide: zero true pairs (fuzz seed 0) has no recall —
        // NULL on both engines, never an ANSI throw
        .withColumn("recall",
          round(try_divide(col("detected").cast("double"), col("true_pairs")), 6))
    }.reduce(_ unionByName _).orderBy("bands")
  }

  lazy val c137Sql: String = {
    def sliceSql(arr: String, bn: Int, r: Int): String =
      (0 until r).map(i => s"$arr[${bn * r + i + 1}]")
        .reduceLeft((acc, s) => s"(($acc) * 31 + $s) % $M")
    def factBlock(b: Int, r: Int): String = {
      val gb = (0 until b).map(bn =>
        s"SELECT CAST($bn AS INT) AS band, ${sliceSql("mhs", bn, r)} AS bh FROM mh")
        .mkString("\n  UNION ALL\n  ")
      val hits = (0 until b).map(bn =>
        s"${sliceSql("ma", bn, r)} = ${sliceSql("mb", bn, r)}").mkString(" OR ")
      s"""gb$b AS (
         |  $gb
         |),
         |ct$b AS (
         |  SELECT CAST(SUM(CAST(k AS HUGEINT) * (k - 1) // 2) AS BIGINT) AS cand_pairs
         |  FROM (SELECT band, bh, COUNT(*) AS k FROM gb$b GROUP BY band, bh)),
         |dt$b AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS true_pairs,
         |    CAST(COALESCE(SUM(CASE WHEN $hits THEN 1 ELSE 0 END), 0) AS BIGINT) AS detected
         |  FROM tm),
         |res$b AS (
         |  SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |    ct.cand_pairs, dt.true_pairs, dt.detected,
         |    round(CAST(dt.detected AS DOUBLE) / dt.true_pairs, 6) AS recall
         |  FROM ct$b ct CROSS JOIN dt$b dt)""".stripMargin
    }
    s"""WITH ${bandRowsCtes.mkString(",\n")},
       |ws AS (
       |  SELECT list_sort(list_distinct($shingleHashesSql)) AS s,
       |    MIN(doc_id) AS rep
       |  FROM fdoc GROUP BY 1),
       |rb AS (SELECT b.doc_id, b.band, b.bh FROM bands b JOIN ws ON ws.rep = b.doc_id),
       |rcand AS (
       |  SELECT DISTINCT l.doc_id AS src, r.doc_id AS dst
       |  FROM rb l JOIN rb r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
       |truth AS MATERIALIZED (
       |  SELECT c.src, c.dst FROM rcand c
       |  JOIN ws x ON x.rep = c.src
       |  JOIN ws y ON y.rep = c.dst
       |  WHERE round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
       |    / len(list_distinct(list_concat(x.s, y.s))), 6) >= ${SweepTaus.min}),
       |tm AS MATERIALIZED (
       |  SELECT a.mhs AS ma, b.mhs AS mb FROM truth t
       |  JOIN mh a ON a.doc_id = t.src
       |  JOIN mh b ON b.doc_id = t.dst),
       |${TuneFactorizations.map { case (b, r) => factBlock(b, r) }.mkString(",\n")}
       |${TuneFactorizations.map { case (b, _) => s"SELECT * FROM res$b" }
           .mkString(" UNION ALL ")}
       |ORDER BY bands""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c137_lsh_tune" -> (c137LshTune _),
    "c135_lsh_balance" -> (c135LshBalance _),
    "c103_group_split" -> (c103GroupSplit _),
    "c93_cross_lingual" -> (c93CrossLingual _),
    "c85_threshold_sweep" -> (c85ThresholdSweep _),
    "c84_cluster_sizes" -> (c84ClusterSizes _),
    "c82_dataset_card" -> (c82DatasetCard _),
    "c80_quality_dup" -> (c80QualityDupCrosstab _),
    "c79_cross_source" -> (c79CrossSource _),
    "c77_keep_best" -> (c77KeepBest _),
    "c74_minhash_error" -> (c74MinhashError _),
    "c6_minhash_lsh" -> (c6MinhashLsh _),
    "c7_ngram_jaccard" -> (c7NgramJaccard _),
    "c8_simhash" -> (c8Simhash _),
    "c19_dedup_collapse" -> (c19DedupCollapse _),
    "c35_dedup_inflation" -> (c35DedupInflation _),
    "c60_lsh_curve" -> (c60LshCurve _),
    "c66_containment" -> (c66Containment _))

  val oracles: Map[String, String] = Map(
    "c135_lsh_balance" -> c135Sql,
    "c137_lsh_tune" -> c137Sql,
    "c103_group_split" -> c103Sql,
    "c93_cross_lingual" -> c93Sql,
    "c85_threshold_sweep" -> c85Sql,
    "c84_cluster_sizes" -> c84Sql,
    "c82_dataset_card" -> c82Sql,
    "c80_quality_dup" -> c80Sql,
    "c79_cross_source" -> c79Sql,
    "c77_keep_best" -> c77Sql,
    "c74_minhash_error" -> c74Sql,
    "c6_minhash_lsh" -> c6Sql,
    "c7_ngram_jaccard" -> c7Sql,
    "c8_simhash" -> c8Sql,
    "c19_dedup_collapse" -> c19Sql,
    "c35_dedup_inflation" -> c35Sql,
    "c60_lsh_curve" -> c60Sql,
    "c66_containment" -> c66Sql)

  /** Session-shared memo builders for the bench prep section
    * ([[graft.Prep]]) — see TextQueries.prepItems for the rationale.
    */
  private[graft] def prepItems: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // r19 dependency order: everything derives from the universe now —
    // the scored memo kernels over its class candidates, the collapse
    // slices the scored memo, and signatures/candidates are cheap
    // expansions through its maps (one corpus tokenize per session,
    // billed here)
    "dedup_universe" -> ((s, d) => { setClassUniverse(s, d): Unit }),
    "dedup_scored_pairs" -> ((s, d) =>
      { scoredRepPairs(s, d, SweepTaus.min): Unit }),
    "dedup_collapse" -> ((s, d) => { c19DedupCollapse(s, d): Unit }),
    "dedup_signatures" -> ((s, d) => { signatures(s, d): Unit }),
    "dedup_candidates" -> ((s, d) => { candidatePairs(s, d): Unit }))
}
