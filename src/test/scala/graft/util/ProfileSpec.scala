package graft.util

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.meta.{IceRead, IceWrite, LocalCatalog}

/** [[Profile.record]] keeps exactly the body's Spark work, splits its
  * wall time exactly, and leaves no listener behind. */
class ProfileSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val sc = spark.sparkContext

  test("stage + catalyst + driver is the wall time, each part non-negative") {
    val (n, r) = Profile.record(spark) {
      spark.range(0, 200000, 1, 4).groupBy(col("id") % 7).count().collect().length
    }
    assert(n == 7)
    assert(r.jobStarts.nonEmpty && r.stages.nonEmpty)
    assert(r.actions.exists(_.name == "collect"), r.actions.toString)
    assert(r.actions.forall(_.phases.nonEmpty))
    assert(r.stageMs >= 0 && r.catalystMs >= 0 && r.driverMs >= 0, r.toString)
    assert(r.stageMs + r.catalystMs + r.driverMs == r.wallMs, r.toString)
    assert(r.stageMs > 0, r.toString)
  }

  test("a job a JobScope.both side starts inside the body is counted") {
    val (_, r) = Profile.record(spark) {
      JobScope.both(sc)(sc.parallelize(1 to 8, 2).count(), 1)
    }
    assert(r.jobStarts.size == 1, r.toString)
  }

  test("a job another thread starts during the body is not counted") {
    // created before the call, so it does not inherit the call's tag
    val go = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await(30, TimeUnit.SECONDS)
      sc.parallelize(1 to 8, 2).count()
    })
    other.start()
    val (_, r) = Profile.record(spark) {
      go.countDown()
      other.join(60000)
      assert(!other.isAlive)
    }
    assert(r.jobStarts.isEmpty && r.stages.isEmpty && r.actions.isEmpty, r.toString)
  }

  test("actions on any session of the context are reported with their Catalyst time") {
    val catalog = LocalCatalog(Files.createTempDirectory("graft-profile").toString)
    IceWrite.create(spark, catalog, "t", spark.range(0, 300, 1, 2).toDF("id"))
    IceWrite.deleteWhere(spark, catalog, "t", col("id") < 10)
    val (n, r) = Profile.record(spark)(IceRead.table(spark, catalog, "t").count())
    assert(n == 290)
    assert(r.actions.map(_.name) == Seq("count"), r.toString)
    assert(r.catalystMs > 0, r.toString)
    val clone = ColumnBridge.cloneSession(spark)
    val (_, c) = Profile.record(spark)(clone.range(0, 100, 1, 2).count())
    assert(c.actions.map(_.name) == Seq("count"), c.toString)
  }

  test("adaptive query stages are named by their action's call site") {
    // a clone, so the shared session keeps its broadcast threshold
    val session = ColumnBridge.cloneSession(spark)
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val left = session.range(0, 20000, 1, 4).withColumn("k", col("id") % 100)
    val right = session.range(0, 100, 1, 2).withColumnRenamed("id", "k")
    val (n, r) = Profile.record(spark)(left.join(right, "k").count())
    assert(n == 20000)
    val names = r.stages.map(_.name)
    assert(names.size >= 2, r.toString)
    assert(!names.exists(_.startsWith("$anonfun$withThreadLocalCaptured")), names.mkString("\n"))
    assert(names.forall(_.contains("ProfileSpec.scala")), names.mkString("\n"))
  }

  test("a throwing body propagates and leaves the bus's listener count unchanged") {
    // bus members created on first use (a session's execution listener
    // bus) stay; make sure they exist before counting
    Profile.record(spark)(spark.range(1).count())
    ListenerBusBridge.drain(sc)
    val before = ListenerBusBridge.listenerCount(sc)
    val e = intercept[IllegalStateException] {
      Profile.record(spark) {
        spark.range(10).count()
        throw new IllegalStateException("injected")
      }
    }
    assert(e.getMessage == "injected")
    assert(ListenerBusBridge.listenerCount(sc) == before)
  }
}
