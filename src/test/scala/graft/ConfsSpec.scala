package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import graft.functions.Confs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Confs.kBoundedLoop` applies AQE off and its partition count to the
  * loop's frames only: the caller's session is never written, so other
  * queries on it, and overlapping loops on other threads, keep its values.
  */
class ConfsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val Keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  private def shared(): Seq[String] = Keys.map(spark.conf.get)

  /** (adaptive?, shuffle partitions) of an aggregate planned on `df`. */
  private def planned(df: DataFrame): (Boolean, Option[Int]) = {
    val plan = df.groupBy(col("id") % 3).count().queryExecution.executedPlan
    (plan.isInstanceOf[AdaptiveSparkPlanExec],
      plan.collectFirst { case e: ShuffleExchangeExec => e.numPartitions })
  }

  test("overlapping k-bounded loops leave the shared session's settings unchanged") {
    val before = shared()
    val df = spark.range(100).toDF("id")
    val aIn, bIn, aOut = new CountDownLatch(1)
    def await(l: CountDownLatch): Unit = assert(l.await(60, TimeUnit.SECONDS))
    // each body records the shared settings and its own frame's plan
    def body(entered: CountDownLatch, next: CountDownLatch)(d: DataFrame) = {
      entered.countDown()
      await(next)
      (shared(), planned(d))
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      // forced order: A in, B in, A out, B out
      val a = pool.submit(new Callable[(Seq[String], (Boolean, Option[Int]))] {
        def call() = try Confs.kBoundedLoop(df)(body(aIn, bIn)) finally aOut.countDown()
      })
      val b = pool.submit(new Callable[(Seq[String], (Boolean, Option[Int]))] {
        def call() = { await(aIn); Confs.kBoundedLoop(df)(body(bIn, aOut)) }
      })
      Seq(a, b).foreach { f =>
        val (inside, loopPlan) = f.get(120, TimeUnit.SECONDS)
        assert(inside == before, "a loop changed the shared session's settings")
        assert(loopPlan == ((false, Some(8))), "the loop's frame kept AQE or the caller's partitions")
      }
    } finally pool.shutdownNow()
    assert(shared() == before)
    assert(planned(df)._1, "the caller's frame no longer plans adaptively")
  }
}
