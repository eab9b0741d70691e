package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session factory. The service, the bench, the oracle run,
  * the demos and the tests all run under this configuration, so the
  * configuration that is verified is the one that is benchmarked.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time, last-wins map-key dedup (a later duplicate key wins, as in
    * the reference's Go map writes) and no UI. Returns the active
    * session if one already exists.
    */
  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // colTypeOpt probes analyze lambda-var columns standalone and
    // CATCH the failure; Spark 4 still posts it to the execution
    // listener bus, which logs a scary-but-benign ERROR — silence
    // that one logger (the exception is handled, nothing is lost)
    Configurator.setLevel(
      "org.apache.spark.sql.util.ExecutionListenerBus", Level.OFF)
    spark
  }
}
