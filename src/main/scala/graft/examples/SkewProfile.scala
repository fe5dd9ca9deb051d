package graft.examples

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.meta.LocalCatalog

/** Scratch profiler for the skew_i2 bench line: per-Spark-job wall time
  * with call sites, over the same planted-mega-bucket fixture Bench
  * builds. Not part of the library surface. */
object SkewProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val ms = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b)
          .getOrElse(-1L)
        rows.add((i.stageId, ms, s"${i.numTasks}t ${i.name.take(60)}"))
      }
    })

    // per-ACTION accounting: every SQL action (count/collect/checkpoint/
    // save) reports its function name, wall ms, and the head of its
    // executed plan — the job-level view above can't name SQL-thread jobs
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private def head(qe: org.apache.spark.sql.execution.QueryExecution): String =
        scala.util.Try(qe.executedPlan.toString.linesIterator
          .filterNot(_.trim.isEmpty).take(2).mkString(" | ").take(150)).getOrElse("?")
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.add((funcName, durationNs / 1000000L, head(qe)))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    val boiler = ("Licensed under the Apache License Version 2.0 you may not use " +
      "this file except in compliance with the License you may obtain a copy " +
      "of the License at http example com licenses and limitations ") * 3
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nBase = base.count()
    val docs = base.crossJoin(spark.range(10).toDF("rep"))
      .select((col("doc_id") + col("rep") * nBase).as("doc_id"), col("text"))
    val planted = docs.withColumn("text",
      when(col("doc_id") % 3 === 0, lit(boiler)).otherwise(col("text")))
      .repartition(cpus.toInt * 2)
      .localCheckpoint(true)
    println(s"[prof] fixture ready: ${planted.count()} docs")
    rows.clear()

    def phase(name: String)(f: => Unit): Unit = {
      rows.clear(); actions.clear()
      val t0 = System.nanoTime()
      f
      val secs = (System.nanoTime() - t0) / 1e9
      // the listener bus is async: drain it before reading the events
      ListenerBusBridge.drain(spark.sparkContext)
      println(f"[prof] PHASE $name%-12s ${secs}%6.2f s")
      import scala.jdk.CollectionConverters._
      val acts = actions.asScala.toSeq
      println(f"[prof]    actions=${acts.size} action-ms-sum=${acts.map(_._2).sum}")
      acts.sortBy(-_._2).take(14).foreach { case (fn, ms, plan) =>
        println(f"[prof]    act $fn%-16s ${ms}%6d ms  $plan")
      }
    }

    def loadavg(): String =
      scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")).getOrElse("?")
    val keepIds = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 3).foreach { it =>
      val catalog = new LocalCatalog(
        java.nio.file.Files.createTempDirectory("prof-skew-wh").toString)
      val b0 = planted.filter(col("doc_id") % 2 === 0)
      val b1 = planted.filter(col("doc_id") % 2 =!= 0)
      val t0 = System.nanoTime()
      var out0: org.apache.spark.sql.DataFrame = null
      var out1: org.apache.spark.sql.DataFrame = null
      phase(s"it$it-batch0") {
        out0 = graft.ops.Dedup.incrementalMinHash(spark, catalog, "skew_idx",
          b0, "doc_id", "text", 0L)
      }
      phase(s"it$it-count0") { println(s"[prof] out0=${out0.count()}") }
      phase(s"it$it-batch1") {
        out1 = graft.ops.Dedup.incrementalMinHash(spark, catalog, "skew_idx",
          b1, "doc_id", "text", 1L)
      }
      phase(s"it$it-count1") { println(s"[prof] out1=${out1.count()}") }
      println(f"[prof] TOTAL it$it ${(System.nanoTime() - t0) / 1e9}%6.2f s  load=${loadavg()}")
      spark.sparkContext.getPersistentRDDs.foreach {
        case (id, r) => if (!keepIds.contains(id)) r.unpersist(false)
      }
    }
    spark.stop()
  }
}
