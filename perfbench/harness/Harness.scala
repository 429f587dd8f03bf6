package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed workload operation, as the result file reports it; `id`
  * is its index in the run's operations. */
final case class Op(id: Int, name: String, module: String, seconds: Double, ok: Boolean,
    error: String = "", size: Long = 0L)

/** Everything a workload needs from the command line. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    input: String, out: String, cores: Int, tmp: String) {
  val tracer = new Tracer(trace)
  val ops = ArrayBuffer.empty[Op]
  val setups = ArrayBuffer.empty[Double]
  /** What the checker needs to judge the outputs. */
  val checks = ArrayBuffer.empty[(String, Any)]
  var loopWallS = 0.0

  /** A fresh session with the program's own configuration; only the
    * scratch directories are pointed into the run's work directory. */
  def startSession(): SparkSession = {
    val s = graft.GraftSession.builder(cores)
      .config("spark.local.dir", tmp)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s)
    s
  }

  /** Times one operation (closed loop: the next starts only after this
    * one returns) and records a failure instead of propagating it. */
  def op(name: String, module: String, size: Long = 0L)(body: Int => Unit): Op = {
    val id = ops.size
    val t0 = System.nanoTime()
    val err =
      try { tracer.span(name, module, "op", id)(body(id)); "" }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $name failed: $e")
          e.printStackTrace()
          Option(e.getMessage).getOrElse(e.toString).take(300)
      }
    val o = Op(id, name, module, (System.nanoTime() - t0) / 1e9, err.isEmpty, err, size)
    ops += o
    o
  }
}

/** Benchmark harness: runs one workload in this JVM and writes
  * `<out>/result.json` (raw timings, engine layers of a traced run, and
  * what the checker needs). The Python driver next to it generates the
  * city inputs, checks the outputs and reduces the timings.
  *
  * Usage: perfbench.Harness --workload <surface|city_bulk|city_incremental>
  *   --seed <n> --seconds <s> --trace <0|1> --input <dir> --out <dir>
  *   --cores <n> --tmp <dir>
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("input"), a("out"), a("cores").toInt, a("tmp"))
    Files.createDirectories(Paths.get(ctx.out))
    val spark = ctx.workload match {
      case "surface" => Surface.run(ctx)
      case "city_bulk" => City.bulk(ctx)
      case "city_incremental" => City.incremental(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val layers =
      if (ctx.trace) Layers.metrics(ctx.tracer, ctx.cores, ctx.loopWallS)
        .map { case (n, v, u) => Json.Raw(Json.obj(Seq("name" -> n, "value" -> v, "unit" -> u))) }
      else Nil
    if (ctx.trace)
      Files.write(Paths.get(ctx.out, "spans.jsonl"),
        Layers.spanLines(ctx.tracer).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val heap = Runtime.getRuntime.maxMemory
    val result = Json.obj(Seq(
      "workload" -> ctx.workload,
      "seed" -> ctx.seed,
      "trace" -> ctx.trace,
      "cores" -> ctx.cores,
      "max_heap_bytes" -> heap,
      "spark_version" -> spark.version,
      "setup_s" -> ctx.setups.toSeq,
      "loop_wall_s" -> ctx.loopWallS,
      "ops" -> ctx.ops.toSeq.map(o => Json.Raw(Json.obj(Seq("id" -> o.id, "name" -> o.name,
        "module" -> o.module, "seconds" -> o.seconds, "ok" -> o.ok,
        "error" -> o.error, "size" -> o.size)))),
      "layers" -> layers,
      "checks" -> ctx.checks.toMap))
    Files.write(Paths.get(ctx.out, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
