package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for graft's mains: `local[cpus]`, one
  * shuffle partition per core, UTC session time zone, no UI, the given
  * log level, and local checkpoint files written through graft's
  * [[graft.io.LocalFs]]. `confs` are applied last, so they override any of
  * these (a `confs` binding of the local filesystem included). */
object GraftSession {

  /** Core count: SPARK_GRAFT_CPUS, else the main's own default; either
    * must be a positive integer ([[Knobs.positiveInt]]). */
  def cpus(default: String): String =
    Knobs.positiveInt("SPARK_GRAFT_CPUS", sys.env.getOrElse("SPARK_GRAFT_CPUS", default)).toString

  def apply(cpus: String, logLevel: String = "WARN",
            confs: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.io.LocalFs.bind(spark)
    spark
  }
}
