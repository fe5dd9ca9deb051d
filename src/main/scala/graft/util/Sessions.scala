package graft.util

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one local SparkSession factory behind the repo's runnable mains and
  * the test suite. */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** A `local[cpus]` session with [[GraftExtensions]], `cpus` shuffle
    * partitions, UTC, AQE on, the UI off and a temp warehouse; WARN
    * logging with the global-window warning quieted. */
  def local(cpus: Int = Sessions.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-spark-wh").toString)
      // long-session hygiene: ContextCleaner reclaims shuffle files and
      // broadcast blocks only when the driver GCs, and a 24g heap may
      // not GC for most of a 183-query session — the default 30min
      // periodic GC never fires inside one bench, so cleanup lands as
      // one burst on whatever line is running late in the session
      // (measured: the skew block). 2min spreads it; the setting exists
      // in Spark precisely for long-running many-query drivers.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkLogs.quietGlobalWindowWarning()
    spark
  }
}
