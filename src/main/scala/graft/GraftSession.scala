package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every main, tool and test starts from: a local
  * master whose shuffle partitions equal its cores, Kryo with the engine's
  * class registration ([[GraftKryo]]), AQE on, UTC, no UI, the engine's
  * SQL extensions (vector functions + optimizer rules) and WARN logging.
  * Callers add only what differs for them. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    GraftKryo.configure(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.log.level", "WARN")
}
