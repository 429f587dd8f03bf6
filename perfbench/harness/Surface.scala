package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The analyst surface: one fresh session over a seeded corpus, its
  * session stores built during set-up, then a fixed sample of the
  * `SparkEntry.queries` keys, each once, in an order the seed permutes.
  */
object Surface {

  /** Every `SampleStride`-th key of each module's sorted keys: a fixed
    * sample that keeps each module's share of the surface. */
  val SampleStride = 16

  /** The replay pool is the one store left out of set-up: it alone
    * takes longer than a whole run may (the streaming keys in the
    * sample then pay their own replay when they run). */
  val SkippedStores = Set("stream_replays")

  /** The module whose `queries` map holds each key. */
  def moduleOf: Map[String, String] = {
    val byModule = Seq(
      "tiles" -> graft.tiles.GeoQueries.queries.keySet,
      "text" -> (graft.text.TextQueries.queries.keySet ++ graft.text.FunnelQueries.queries.keySet),
      "dedup" -> graft.dedup.DedupQueries.queries.keySet,
      "embed" -> graft.embed.EmbedQueries.queries.keySet,
      "multimodal" -> graft.multimodal.Multimodal.queries.keySet,
      "streaming" -> graft.streaming.StreamingQueries.queries.keySet)
    graft.SparkEntry.queries.keys.map { k =>
      k -> byModule.collectFirst { case (m, ks) if ks(k) => m }.getOrElse("relational")
    }.toMap
  }

  /** The module that owns a `Prep.items` store, from its name. */
  def storeOwner(name: String): String = name match {
    case n if n.startsWith("geo_") => "tiles"
    case n if n.startsWith("text_") => "text"
    case n if n.startsWith("dedup_") => "dedup"
    case n if n.startsWith("embed_") => "embed"
    case n if n.startsWith("stream_") => "streaming"
    case _ => "relational"
  }

  def sample(modules: Map[String, String]): Seq[String] =
    modules.toSeq.groupBy(_._2).values.toSeq.flatMap { ks =>
      ks.map(_._1).sorted.zipWithIndex.collect { case (k, i) if i % SampleStride == 0 => k }
    }.sorted

  def run(ctx: Ctx): SparkSession = {
    val corpus = s"${ctx.input}/corpus"
    // inputs: the program's seeded corpus generator, run before set-up
    // in a session of its own (seed 0 is its single-row corpus)
    val gen = ctx.startSession()
    graft.Fuzz.writeCorpus(gen, corpus, 1 + ctx.seed)
    gen.stop()

    val t0 = System.nanoTime()
    val spark = ctx.startSession()
    // each store build is recorded as an operation named store:<name>;
    // it is set-up time, not part of the sweep's throughput
    graft.Prep.items.filterNot(i => SkippedStores(i._1)).foreach { case (name, fn) =>
      ctx.op(s"store:$name", storeOwner(name)) { _ =>
        ctx.tracer.span(name, storeOwner(name), "prep", -1, store = true)(fn(spark, corpus))
      }
    }
    ctx.setups += (System.nanoTime() - t0) / 1e9

    val modules = moduleOf
    val queries = graft.SparkEntry.queries
    val rnd = new java.util.Random(ctx.seed)
    val order = new java.util.ArrayList(sample(modules).asJava)
    java.util.Collections.shuffle(order, rnd)
    val answers = ArrayBuffer.empty[(String, Array[Row], StructType)]
    val w0 = System.nanoTime()
    order.asScala.foreach { key =>
      val m = modules(key)
      ctx.op(key, m) { id =>
        val df = ctx.tracer.span(key, m, "build", id)(queries(key)(spark, corpus))
        // the whole answer, every row and column, delivered to the client
        val rows = ctx.tracer.span(key, m, "action", id)(df.collect())
        answers += ((key, rows, df.schema))
      }
    }
    ctx.loopWallS = (System.nanoTime() - w0) / 1e9

    // outside the timed loop: dump each answer for the oracle check
    val dump = s"${ctx.out}/answers"
    answers.foreach { case (key, rows, schema) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dump/$key")
    }
    val oracles = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(dump))
    Files.write(Paths.get(dump, "oracle_sql.json"), Json.obj(answers.toSeq.collect {
      case (k, _, _) if oracles.contains(k) => k -> oracles(k)
    }).getBytes(StandardCharsets.UTF_8))
    ctx.checks += "answers" -> dump
    ctx.checks += "corpus" -> corpus
    spark
  }
}
