package graft

import org.apache.spark.sql.SparkSession

object SparkTestBase {
  // 4 cores whatever SPARK_GRAFT_CPUS says: specs pin job budgets
  lazy val spark: SparkSession = graft.util.Sessions.local(4)
}
