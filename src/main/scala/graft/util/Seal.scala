package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The ONE sealing primitive for frozen session stores (memoized
  * intermediates, snapshot stores, truth frames): truncate lineage and
  * materialize eagerly.
  *
  * Default = `localCheckpoint` (executor-local blocks: fast, no I/O
  * beyond the block manager) — right at test SF and on healthy
  * clusters. At 100 TB the big frozen stores pinned in executor
  * memory/disk are an OOM and a lost-executor recompute storm, not a
  * cache, so `graft.seal.durable=true` swaps EVERY seal site to a
  * reliable `checkpoint` (HDFS/object-store files; survives executor
  * loss, frees block-manager space). That covers the sealed STORES
  * (SURVEY §6) and the per-round frames of both connected-components
  * loops ([[graft.tiles.Clustering]], [[graft.dedup.GraphCC]]) alike:
  * this is the one durability knob, and outside the scale-smoke
  * fixtures the only place production code checkpoints. Results must
  * be conf-invariant (spec-pinned): the hatch moves bytes, never values.
  *
  * `graft.seal.dir` (optional): checkpoint directory to install if the
  * context has none — a session conf so deployments need no code
  * change to flip the hatch on.
  */
object Seal {
  implicit final class Sealable(private val df: DataFrame) extends AnyVal {
    def seal(eager: Boolean = true): DataFrame = {
      val sess = df.sparkSession
      val durable = sess.conf.getOption("graft.seal.durable")
        .exists(_.equalsIgnoreCase("true"))
      if (durable) {
        val sc = sess.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sess.conf.getOption("graft.seal.dir").foreach(sc.setCheckpointDir)
        if (sc.getCheckpointDir.isEmpty)
          throw new IllegalStateException(
            "graft.seal.durable=true but no checkpoint directory is set: " +
              "set graft.seal.dir (session conf) or " +
              "SparkContext.setCheckpointDir before running sealed queries")
        if (eager) {
          // Persist before the eager checkpoint: without it the
          // materializing count job computes the frame once and
          // ReliableCheckpointRDD's write job recomputes the WHOLE
          // lineage a second time — ~2x compute on exactly the 100 TB
          // stores the hatch targets. With the plan cached, the write
          // job reads the blocks instead; unpersist once the files are
          // on stable storage (checkpoint(eager=true) returns only
          // after the write job finishes).
          val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
          try cached.checkpoint(eager = true)
          finally { cached.unpersist(blocking = false); () }
        } else df.checkpoint(eager = false)
      } else df.localCheckpoint(eager)
    }
  }
}
