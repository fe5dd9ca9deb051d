package graft.examples

import org.apache.spark.sql.SparkSession

/** Times a named subset of SparkEntry.queries (args), two runs each —
  * the targeted A/B instrument for adjudicating single-line bench moves
  * without a full Bench sweep. Prints each query's first and best time
  * and its row count. Usage:
  * {{{ SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.examples.TimeQueries <query>..." }}} */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.SparkLogs.quietGlobalWindowWarning()
    // warmup (same as Bench)
    graft.SparkEntry.queries("q10_projection")(spark, sfDir).count()
    args.foreach { q =>
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val rows = graft.SparkEntry.queries(q)(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        (s, rows)
      }
      val times = runs.map(_._1)
      println(f"[time] $q%-28s first=${times.head}%6.2f best=${times.min}%6.2f rows=${runs.head._2}")
    }
    spark.stop()
  }
}
