package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory (SURVEY.md §2 E): one place where the
  * scale-sensitive knobs live so every main (Verify, Bench, user code)
  * runs the same engine configuration.
  *
  * - AQE on (default in Spark 4) with skew-join handling: runtime
  *   re-planning replaces hand-tuned partition counts at 100 TB.
  * - shuffle.partitions sized to the local core count here; on a real
  *   cluster this is executors×cores×2-3 or left to AQE coalescing.
  * - Broadcast threshold raised to 64 MB: every dimension table in this
  *   engine (polygons, centroids, nation/region/customer at test SFs,
  *   ANN probe sets) must broadcast — a shuffle join on the fact side is
  *   always the wrong plan for them.
  * - Parquet nanos-as-long: the driver testdata writes TIMESTAMP(NANOS).
  * - Codegen cache of [[CodegenCacheEntries]] classes, not Spark's 100.
  *   The cache is keyed by (context classloader, source); under
  *   `local[n]` the driver thread and the task threads carry different
  *   loaders, so each generated class takes two entries and 100 entries
  *   hold ~50 plan shapes. One incremental batch (MERGE, incremental
  *   clustering, challenge lines) needs more than that, so the default
  *   cache evicted cyclically and every batch recompiled 40-58 classes.
  *   2048 holds both benchmark sessions whole: a 4000-entry cache
  *   compiles no fewer classes (85 in a traced incremental run, 679 in
  *   the analyst session), and end-of-session metaspace stays ~189 MB.
  * - Stage ids out of generated class names: AQE re-plans renumber the
  *   whole-stage codegen ids, and the id is part of the class name
  *   (`GeneratedIteratorForCodegenStage<N>`), so byte-identical stage
  *   bodies missed the cache under a new number (with the larger cache
  *   alone, later batches still recompiled 4-6 classes now and then).
  */
object GraftSession {

  /** Codegen cache capacity (`spark.sql.codegen.cache.maxEntries`, a
    * static conf: the first session of the JVM fixes it). */
  val CodegenCacheEntries = 2048

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the MERGE INTO-capable copy-on-write catalog (B43)
      .config("spark.sql.catalog.graft", classOf[graft.sources.UpsertCatalog].getName)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
