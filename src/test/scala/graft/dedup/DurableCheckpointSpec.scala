package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the one durable-checkpoint knob (`graft.seal.durable` +
  * `SparkContext.setCheckpointDir`) on the connected-components loops:
  * their per-round frames truncate lineage through `seal`, so the knob
  * swaps executor-local blocks for durable checkpoints there too and a
  * long cluster CC run survives executor loss. Each test asserts BOTH
  * that the labeling is unchanged and that checkpoint files actually
  * landed under the configured dir (so a loop that bypasses `seal`
  * fails the spec, not the cluster run).
  */
class DurableCheckpointSpec extends SparkTestBase {

  private def filesUnder(dir: java.io.File): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else 1
    walk(dir)
  }

  private def withDurable(body: => Unit): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-durable-ckpt").toFile
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir.toString)
    try {
      spark.conf.set("graft.seal.durable", "true")
      body
      dir
    } finally spark.conf.unset("graft.seal.durable")
  }

  test("graft.seal.durable: GraphCC df loop checkpoints durably, same components") {
    import spark.implicits._
    // a 3-chain graph plus singletons, forced onto the df loop (its
    // per-round truncation is what this pins)
    val edges = (0L until 300L).filter(_ % 3 != 2)
      .map(i => (i, i + 1)).toDF("src", "dst")
    val vertices = (0L to 300L).toDF("id")
    spark.conf.set("graft.gcc.impl", "df")
    val want = try GraphCC.connectedComponents(vertices, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      finally () // keep impl pinned for the durable run too
    var got: Seq[(Long, Long)] = null
    val dir = try withDurable {
        got = GraphCC.connectedComponents(vertices, edges)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      } finally spark.conf.unset("graft.gcc.impl")
    assert(got == want, "durable truncation changed the GraphCC labeling")
    assert(filesUnder(dir) > 0,
      "graft.seal.durable=true wrote nothing under the checkpoint dir — knob ignored")
  }

  test("graft.seal.durable: grid CC checkpoints durably in BOTH engines, same clusters") {
    // a serpentine grid — one component, enough rounds that truncation
    // genuinely fires every round
    val cells = spark.range(2000)
      .select((col("id") % 50L).as("x"), expr("id div 50").as("y"))
    def run(): Seq[(Long, Long, Long)] =
      graft.tiles.Clustering.connectedComponents4(cells)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    for (impl <- Seq("local", "df")) {
      spark.conf.set("graft.cc.impl", impl)
      try {
        val want = run()
        var got: Seq[(Long, Long, Long)] = null
        val dir = withDurable { got = run() }
        assert(got == want, s"durable truncation changed the $impl labeling")
        assert(filesUnder(dir) > 0,
          s"graft.seal.durable=true wrote nothing under the checkpoint dir ($impl) — knob ignored")
      } finally spark.conf.unset("graft.cc.impl")
    }
  }
}
