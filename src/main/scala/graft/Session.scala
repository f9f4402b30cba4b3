package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder every main uses: `local[n]` with n =
  * `SPARK_GRAFT_CPUS`, else the JVM's processor count; n shuffle
  * partitions; UTC session time zone; UI off; log level WARN. `master`
  * replaces `local[n]` for a deployment (MaefMain's `SPARK_MASTER`).
  * Where a session already runs (a test JVM), getOrCreate returns it. */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(master: Option[String] = None): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
