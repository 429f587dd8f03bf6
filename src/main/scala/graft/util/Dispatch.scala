package graft.util

import org.apache.spark.sql.SparkSession

/** The one size gate of the engine sites: a single-task kernel for
  * latency-bound inputs, or a distributed loop. */
object Dispatch {

  /** The engine session conf `key` forces, else `engines._1` when `small`
    * holds, else `engines._2`. `small` (the gate's size statistic) runs
    * only when nothing is forced. The conf comes from outside the
    * program, so a value other than the two engine names throws an
    * IllegalArgumentException naming `key` and both names, before
    * `small` runs, instead of silently running one engine.
    */
  def engine(spark: SparkSession, key: String, engines: (String, String),
      small: => Boolean): String = {
    val (first, second) = engines
    spark.conf.getOption(key) match {
      case Some(v) if v == first || v == second => v
      case Some(v) => throw new IllegalArgumentException(s"$key=$v: expected $first|$second")
      case None => if (small) first else second
    }
  }
}
