package graft.streaming

import org.apache.spark.sql.SparkSession

/** State partitioning for graft's streaming gates. A stream's state
  * partitions are the session's shuffle partitions when it starts, and its
  * checkpoint keeps them from then on; each partition carries a state-store
  * instance whose per-batch commit cost dominates at gate scale. */
object StreamPartitions {

  /** Run `body`, which starts and drains a stream, with the session's
    * shuffle partitions set to SPARK_GRAFT_STREAM_PARTITIONS (default 8),
    * and restore the session's value afterwards. A value that is not a
    * positive integer fails before `body` runs, naming the env var. */
  def around[A](s: SparkSession)(body: => A): A = {
    val n = graft.Knobs.envPositiveInt("SPARK_GRAFT_STREAM_PARTITIONS", 8)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
