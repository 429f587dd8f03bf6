package graft.util

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.util.Seal._

/** Pins the generalized durable-seal escape hatch (`graft.seal.durable`
  * + `graft.seal.dir`): every frozen-store seal site (the 80-odd
  * memoized intermediates, snapshot stores, and truth frames) defaults
  * to executor-local blocks but must swap to a reliable checkpoint
  * under the conf — at 100 TB a RAM/local-disk-pinned store is an OOM,
  * not a cache. Asserts (a) the conf actually redirects bytes to the
  * configured dir, (b) a real multi-seal query chain (the LSH
  * scored-pairs path: signature seal + candidate seal + rep seals)
  * returns IDENTICAL results either way — the hatch moves bytes, never
  * values — and (c) `graft.seal.dir` installs a checkpoint dir on a
  * context that has none, so flipping the hatch needs no code change.
  */
class SealSpec extends SparkTestBase {

  private def filesUnder(dir: java.io.File): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else 1
    walk(dir)
  }

  test("graft.seal.durable: seal() writes durable checkpoints, values unchanged") {
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat_ws(" ", expr(
        "transform(sequence(0, 9), k -> concat('w', ((id div 4) * (k + 3)) % 997))"))
        .as("text"))
    def run(): Seq[(Long, Long, Double)] =
      graft.dedup.DedupQueries.scoredRepPairsFor(docs, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val want = run()
    assert(want.nonEmpty, "degenerate fixture: no scored pairs at all")
    val dir = java.nio.file.Files.createTempDirectory("graft-seal").toFile
    // install the dir VIA THE CONF (not setCheckpointDir) to prove the
    // no-code-change path; clear any dir a prior suite installed
    val sc = spark.sparkContext
    sc.setCheckpointDir(null)
    spark.conf.set("graft.seal.durable", "true")
    spark.conf.set("graft.seal.dir", dir.toString)
    val got = try run()
      finally {
        spark.conf.unset("graft.seal.durable")
        spark.conf.unset("graft.seal.dir")
      }
    assert(got == want, "durable sealing changed the scored-pair results")
    assert(filesUnder(dir) > 0,
      "graft.seal.durable=true wrote nothing under graft.seal.dir — hatch ignored")
  }

  test("graft.seal.durable with no resolvable dir fails fast, naming graft.seal.dir") {
    val sc = spark.sparkContext
    sc.setCheckpointDir(null)
    spark.conf.set("graft.seal.durable", "true")
    try {
      val e = intercept[IllegalStateException] {
        spark.range(10).toDF("id").seal()
      }
      assert(e.getMessage.contains("graft.seal.dir"),
        s"fail-fast message must name the conf to set, got: ${e.getMessage}")
    } finally spark.conf.unset("graft.seal.durable")
  }

  test("graft.seal.durable flag parses case-insensitively") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seal-ci").toFile
    val sc = spark.sparkContext
    sc.setCheckpointDir(null)
    spark.conf.set("graft.seal.durable", "True") // not lowercase
    spark.conf.set("graft.seal.dir", dir.toString)
    try {
      assert(spark.range(50).toDF("id").seal().count() == 50L)
      assert(filesUnder(dir) > 0,
        "'True' silently fell back to localCheckpoint — flag parse is case-sensitive")
    } finally {
      spark.conf.unset("graft.seal.durable")
      spark.conf.unset("graft.seal.dir")
    }
  }

  test("sweep: every sealed store in src/main routes through seal() or a named durable hatch") {
    // graft.seal.durable is the ONE durability knob, enforced
    // structurally: a raw .localCheckpoint( or .checkpoint( call in
    // production code is allowed ONLY in (a) Seal.scala — the primitive
    // itself, or (b) ScaleSmoke.scala — synthetic fixture staging for
    // the scale pins, never a production sealed store. Anything else is
    // a store or loop frame the knob silently does not cover.
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"expected to run from the repo root, cwd=${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = for {
      f <- files(root)
      if f.getName != "Seal.scala" && f.getName != "ScaleSmoke.scala"
      lines = {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }
      (line, i) <- lines.zipWithIndex
      if line.contains(".localCheckpoint(") || line.contains(".checkpoint(")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "raw checkpoint call(s) outside Seal.scala:\n" +
        offenders.mkString("\n"))
  }

  test("seal() default stays executor-local (no checkpoint files)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seal-off").toFile
    spark.sparkContext.setCheckpointDir(dir.toString)
    val df = spark.range(100).select(col("id"), (col("id") * 7L).as("v")).seal()
    assert(df.count() == 100L)
    assert(filesUnder(dir) == 0,
      "default seal() wrote durable checkpoint files — the fast path regressed")
  }
}
