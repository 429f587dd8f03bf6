package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class UpsertCatalogSpec extends SparkTestBase {

  test("create / insert / select round-trips through the catalog") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_t1")
    spark.sql("CREATE TABLE graft.spec_t1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.spec_t1 VALUES (1, 'a'), (2, 'b')")
    val r = spark.table("graft.spec_t1").orderBy("k").collect()
    assert(r.map(x => (x.getLong(0), x.getString(1))).toList == List((1L, "a"), (2L, "b")))
  }

  test("MERGE INTO: matched update, not-matched insert, matched delete commit") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_t2")
    spark.sql("CREATE TABLE graft.spec_t2 (k BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO graft.spec_t2 VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    import spark.implicits._
    Seq((2L, "B2", 200L), (4L, "D4", 400L), (3L, "DEL", 0L))
      .toDF("k", "v", "n").createOrReplaceTempView("spec_updates")
    spark.sql(
      """MERGE INTO graft.spec_t2 t USING spec_updates u ON t.k = u.k
        |WHEN MATCHED AND u.v = 'DEL' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = u.v, n = u.n
        |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (u.k, u.v, u.n)
        |""".stripMargin)
    val r = spark.table("graft.spec_t2").orderBy("k").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toList
    assert(r == List((1L, "a", 10L), (2L, "B2", 200L), (4L, "D4", 400L)))
  }

  test("MERGE is idempotent re-runnable state: second identical merge is a no-op") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_t3")
    spark.sql("CREATE TABLE graft.spec_t3 (k BIGINT, n BIGINT)")
    spark.sql("INSERT INTO graft.spec_t3 VALUES (1, 1)")
    import spark.implicits._
    Seq((1L, 5L), (2L, 7L)).toDF("k", "n").createOrReplaceTempView("spec_up3")
    val merge =
      """MERGE INTO graft.spec_t3 t USING spec_up3 u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET n = u.n
        |WHEN NOT MATCHED THEN INSERT (k, n) VALUES (u.k, u.n)""".stripMargin
    spark.sql(merge)
    val once = spark.table("graft.spec_t3").orderBy("k").collect().map(_.toSeq).toList
    spark.sql(merge)
    val twice = spark.table("graft.spec_t3").orderBy("k").collect().map(_.toSeq).toList
    assert(once == List(Seq(1L, 5L), Seq(2L, 7L)) && twice == once)
  }

  test("INSERT OVERWRITE truncates and swaps") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_t4")
    spark.sql("CREATE TABLE graft.spec_t4 (k BIGINT)")
    spark.sql("INSERT INTO graft.spec_t4 VALUES (1), (2)")
    spark.sql("INSERT OVERWRITE graft.spec_t4 VALUES (9)")
    assert(spark.table("graft.spec_t4").collect().map(_.getLong(0)).toList == List(9L))
  }

  test("a larger merge parallelizes across partitions and stays exact") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_t5")
    spark.sql("CREATE TABLE graft.spec_t5 (k BIGINT, n BIGINT)")
    spark.range(0, 30000).selectExpr("id AS k", "id AS n")
      .createOrReplaceTempView("spec_seed5")
    spark.sql("INSERT INTO graft.spec_t5 SELECT k, n FROM spec_seed5")
    spark.range(15000, 45000).selectExpr("id AS k", "id * 2 AS n")
      .createOrReplaceTempView("spec_up5")
    spark.sql(
      """MERGE INTO graft.spec_t5 t USING spec_up5 u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET n = u.n
        |WHEN NOT MATCHED THEN INSERT (k, n) VALUES (u.k, u.n)""".stripMargin)
    val agg = spark.table("graft.spec_t5")
      .agg(count(lit(1)), sum("n"), sum(when(col("n") === col("k") * 2, 1L).otherwise(0L)))
      .head
    assert(agg.getLong(0) == 45000L)
    // untouched: 0..14999 keep n=k; merged/inserted: 15000..44999 have n=2k
    val expected = (0L until 15000L).sum + (15000L until 45000L).map(_ * 2).sum
    assert(agg.getLong(1) == expected)
    assert(agg.getLong(2) == 30001L) // 15000..44999 plus k=0 (0 == 0*2)
  }

  test("delta-mode MERGE: only changed rows flow, state converges identically") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_d1")
    spark.sql(
      """CREATE TABLE graft.spec_d1 (k BIGINT NOT NULL, v STRING, n BIGINT)
        |TBLPROPERTIES ('write.mode'='delta', 'rowid'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.spec_d1 VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    import spark.implicits._
    Seq((2L, "B2", 200L), (4L, "D4", 400L), (3L, "DEL", 0L))
      .toDF("k", "v", "n").createOrReplaceTempView("spec_dup1")
    spark.sql(
      """MERGE INTO graft.spec_d1 t USING spec_dup1 u ON t.k = u.k
        |WHEN MATCHED AND u.v = 'DEL' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = u.v, n = u.n
        |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (u.k, u.v, u.n)
        |""".stripMargin)
    val r = spark.table("graft.spec_d1").orderBy("k").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toList
    assert(r == List((1L, "a", 10L), (2L, "B2", 200L), (4L, "D4", 400L)))
  }

  test("delta-mode NOT MATCHED BY SOURCE delete") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_d2")
    spark.sql(
      """CREATE TABLE graft.spec_d2 (k BIGINT NOT NULL, n BIGINT)
        |TBLPROPERTIES ('write.mode'='delta', 'rowid'='k')""".stripMargin)
    spark.sql("INSERT INTO graft.spec_d2 VALUES (1, 1), (2, 2), (3, 3)")
    import spark.implicits._
    Seq((2L, 20L)).toDF("k", "n").createOrReplaceTempView("spec_dup2")
    spark.sql(
      """MERGE INTO graft.spec_d2 t USING spec_dup2 u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET n = u.n
        |WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN DELETE""".stripMargin)
    val r = spark.table("graft.spec_d2").orderBy("k").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toList
    assert(r == List((1L, 1L), (2L, 20L)))
  }

  test("delta plan is WriteDelta (changed rows), group plan is ReplaceData (full copy)") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_d3")
    spark.sql("DROP TABLE IF EXISTS graft.spec_g3")
    spark.sql(
      """CREATE TABLE graft.spec_d3 (k BIGINT NOT NULL, n BIGINT)
        |TBLPROPERTIES ('write.mode'='delta', 'rowid'='k')""".stripMargin)
    spark.sql("CREATE TABLE graft.spec_g3 (k BIGINT, n BIGINT)")
    import spark.implicits._
    Seq((1L, 5L)).toDF("k", "n").createOrReplaceTempView("spec_up3b")
    def planOf(table: String): String = {
      val merge =
        s"""MERGE INTO $table t USING spec_up3b u ON t.k = u.k
           |WHEN MATCHED THEN UPDATE SET n = u.n
           |WHEN NOT MATCHED THEN INSERT (k, n) VALUES (u.k, u.n)""".stripMargin
      spark.sessionState.executePlan(
        spark.sessionState.sqlParser.parsePlan(merge)).optimizedPlan.treeString
    }
    assert(planOf("graft.spec_d3").contains("WriteDelta"))
    assert(planOf("graft.spec_g3").contains("ReplaceData"))
  }

  test("a merge touching 1 shard rewrites 1 shard (runtime group filtering)") {
    // the granularity pin (r17 verdict item 4): the group-based rewrite
    // must runtime-filter to the shards the merge condition touches,
    // not copy the whole table. Keys 0..15 on 4 shards; a single-key
    // merge must report exactly 1 rewritten shard and leave every
    // untouched row bit-identical.
    spark.sql("DROP TABLE IF EXISTS graft.spec_sh1")
    spark.sql(
      "CREATE TABLE graft.spec_sh1 (k BIGINT, n BIGINT) TBLPROPERTIES ('shards'='4')")
    spark.sql("INSERT INTO graft.spec_sh1 VALUES " +
      (0L until 16L).map(k => s"($k, $k)").mkString(", "))
    val st = UpsertStore.tables("graft.spec_sh1")
    assert(st.shards == 4)
    import spark.implicits._
    Seq((5L, 500L)).toDF("k", "n").createOrReplaceTempView("spec_sh1_up")
    spark.sql(
      """MERGE INTO graft.spec_sh1 t USING spec_sh1_up u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET n = u.n
        |WHEN NOT MATCHED THEN INSERT (k, n) VALUES (u.k, u.n)""".stripMargin)
    assert(st.lastRewriteShards == 1,
      s"single-key merge rewrote ${st.lastRewriteShards} of 4 shards")
    val r = spark.table("graft.spec_sh1").orderBy("k").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toList
    assert(r == (0L until 16L).map(k => (k, if (k == 5L) 500L else k)).toList)
    // a NOT-MATCHED insert whose key hashes OUTSIDE the touched shards
    // must still land (inserts append; they don't need their shard read)
    val far = (16L to 64L).find(k => st.shardOf(k) != st.shardOf(5L)).get
    Seq((5L, 501L), (far, 999L)).toDF("k", "n")
      .createOrReplaceTempView("spec_sh1_up2")
    spark.sql(
      """MERGE INTO graft.spec_sh1 t USING spec_sh1_up2 u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET n = u.n
        |WHEN NOT MATCHED THEN INSERT (k, n) VALUES (u.k, u.n)""".stripMargin)
    val r2 = spark.table("graft.spec_sh1").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r2(5L) == 501L && r2(far) == 999L && r2.size == 17)
  }

  test("a merge with NOT MATCHED BY SOURCE scans (and rewrites) every shard") {
    // Spark cannot group-filter a merge that must evaluate every target
    // row — the connector must fall back to the full rewrite, not lose
    // the unscanned shards
    spark.sql("DROP TABLE IF EXISTS graft.spec_sh2")
    spark.sql(
      "CREATE TABLE graft.spec_sh2 (k BIGINT, n BIGINT) TBLPROPERTIES ('shards'='4')")
    spark.sql("INSERT INTO graft.spec_sh2 VALUES (1, 1), (2, 2), (3, 3), (4, 4)")
    import spark.implicits._
    Seq((2L, 200L)).toDF("k", "n").createOrReplaceTempView("spec_sh2_up")
    spark.sql(
      """MERGE INTO graft.spec_sh2 t USING spec_sh2_up u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET n = u.n
        |WHEN NOT MATCHED BY SOURCE AND t.k = 4 THEN DELETE""".stripMargin)
    val st = UpsertStore.tables("graft.spec_sh2")
    assert(st.lastRewriteShards == 4,
      s"NOT-MATCHED-BY-SOURCE merge must rewrite all shards, got ${st.lastRewriteShards}")
    val r = spark.table("graft.spec_sh2").orderBy("k").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toList
    assert(r == List((1L, 1L), (2L, 200L), (3L, 3L)))
  }

  test("concurrent merges to disjoint shards both land (shard-granular commits commute)") {
    // at whole-table granularity the second commit's snapshot (scanned
    // before the first landed) silently drops the first merge's effect;
    // shard-granular ReplaceData makes disjoint-shard merges commute.
    // Run the pair repeatedly to actually overlap the windows.
    spark.sql("DROP TABLE IF EXISTS graft.spec_sh3")
    spark.sql(
      "CREATE TABLE graft.spec_sh3 (k BIGINT, n BIGINT) TBLPROPERTIES ('shards'='8')")
    spark.sql("INSERT INTO graft.spec_sh3 VALUES " +
      (0L until 16L).map(k => s"($k, 0)").mkString(", "))
    val st = UpsertStore.tables("graft.spec_sh3")
    val ka = 1L
    val kb = (2L to 64L).find(k => st.shardOf(k) != st.shardOf(ka)).get
    import spark.implicits._
    Seq(ka).toDF("k").createOrReplaceTempView("spec_sh3_a")
    Seq(kb).toDF("k").createOrReplaceTempView("spec_sh3_b")
    def mergeInc(view: String): Unit = {
      spark.sql(
        s"""MERGE INTO graft.spec_sh3 t USING $view u ON t.k = u.k
           |WHEN MATCHED THEN UPDATE SET n = t.n + 1""".stripMargin): Unit
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rounds = 5
    (1 to rounds).foreach { _ =>
      val fa = Future(mergeInc("spec_sh3_a"))
      val fb = Future(mergeInc("spec_sh3_b"))
      Await.result(fa, 120.seconds)
      Await.result(fb, 120.seconds)
    }
    val r = spark.table("graft.spec_sh3").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r(ka) == rounds.toLong && r(kb) == rounds.toLong,
      s"lost updates: k$ka=${r(ka)} k$kb=${r(kb)} (want $rounds each)")
    assert(r.size == 16 && r.filterNot(p => p._1 == ka || p._1 == kb).values.forall(_ == 0L))
  }

  /** Statistics of the table's scan leaf in a freshly planned read. */
  private def scanStats(table: String) =
    spark.table(table).queryExecution.optimizedPlan.collectLeaves().head.stats

  test("scans report exact statistics; a read planned after a MERGE sees the new count") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_st1")
    spark.sql("CREATE TABLE graft.spec_st1 (k BIGINT, n BIGINT)")
    assert(scanStats("graft.spec_st1").rowCount.contains(BigInt(0)))
    spark.sql("INSERT INTO graft.spec_st1 VALUES (1, 1), (2, 2), (3, 3)")
    val st = scanStats("graft.spec_st1")
    // a two-BIGINT UnsafeRow is 24 bytes: the null bitset word + 2 × 8
    assert(st.rowCount.contains(BigInt(3)) && st.sizeInBytes == BigInt(3 * 24), s"$st")
    import spark.implicits._
    Seq((3L, 30L), (4L, 40L), (5L, 50L)).toDF("k", "n").createOrReplaceTempView("spec_st1_up")
    spark.sql(
      """MERGE INTO graft.spec_st1 t USING spec_st1_up u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET n = u.n
        |WHEN NOT MATCHED THEN INSERT (k, n) VALUES (u.k, u.n)""".stripMargin)
    val after = scanStats("graft.spec_st1")
    assert(after.rowCount.contains(BigInt(5)) && after.sizeInBytes == BigInt(5 * 24), s"$after")
  }

  test("an insert-only MERGE into a small table plans no SortMergeJoin") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_st2")
    spark.sql("CREATE TABLE graft.spec_st2 (x BIGINT, y BIGINT, v DOUBLE)")
    spark.range(0, 2000).selectExpr("id % 100 AS x", "id div 100 AS y", "0.5 AS v")
      .writeTo("graft.spec_st2").append()
    spark.range(1900, 2100).selectExpr("id % 100 AS x", "id div 100 AS y", "1.5 AS v")
      .createOrReplaceTempView("spec_st2_up")
    val merge = spark.sql(
      """MERGE INTO graft.spec_st2 t USING spec_st2_up u ON t.x = u.x AND t.y = u.y
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the AQE plan string holds the initial plan too, so a sort-merge
    // join that AQE only later turned into a broadcast still shows
    val plan = merge.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    val agg = spark.table("graft.spec_st2").agg(count(lit(1)), sum("v")).head
    assert(agg.getLong(0) == 2100L && agg.getDouble(1) == 2000 * 0.5 + 100 * 1.5)
  }

  test("DELETE FROM and UPDATE route through the row-level ops in both modes") {
    for ((table, props) <- Seq(
        ("graft.spec_u1", ""),
        ("graft.spec_u2", "TBLPROPERTIES ('write.mode'='delta', 'rowid'='k')"))) {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"CREATE TABLE $table (k BIGINT NOT NULL, n BIGINT) $props")
      spark.sql(s"INSERT INTO $table VALUES (1, 1), (2, 2), (3, 3), (4, 4)")
      spark.sql(s"DELETE FROM $table WHERE k % 2 = 0")
      spark.sql(s"UPDATE $table SET n = n * 10 WHERE k = 3")
      val r = spark.table(table).orderBy("k").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toList
      assert(r == List((1L, 1L), (3L, 30L)), s"$table: $r")
    }
  }
}
