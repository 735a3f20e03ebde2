package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for the dev mains (TimeOne, PlanAudit,
  * MakeScale, BlueFortyMain): `local[n]` with n = `SPARK_GRAFT_CPUS`,
  * else every core, shuffle partitions = n, and the UTC /
  * GraftExtensions / AQE / no-UI posture `Bench` runs under.
  * `SPARK_GRAFT_CONF="k=v;k=v"` overrides any conf (e.g.
  * `spark.sql.shuffle.partitions=256` to decouple the reduce width
  * from the task slots). A main called where a session already exists
  * (a spec) runs on it as it is: only a session created here is
  * re-configured or stopped. */
object LocalSession {

  /** Runs `body` on the caller's session if one exists, else on a new
    * local session that is stopped when `body` returns or throws. */
  def run[A](body: SparkSession => A): A =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(existing) => body(existing)
      case None =>
        val spark = create()
        try body(spark) finally spark.stop()
    }

  private def create(): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
