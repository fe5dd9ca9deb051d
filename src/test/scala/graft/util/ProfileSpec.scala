package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

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

  test("a throwing body propagates and leaves the bus's listener count unchanged") {
    // the session's execution listener bus joins the Spark bus on the
    // first registration and stays; make sure it exists before counting
    Profile.record(spark)(())
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
