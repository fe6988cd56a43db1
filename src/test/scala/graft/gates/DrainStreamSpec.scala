package graft.gates

import graft.SparkTestBase
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** `drainStream` swaps the session's shuffle-partition count for the drain
  * and restores it afterwards; two drains that overlap must still leave the
  * session with its own value, and each memory sink with its rows. */
class DrainStreamSpec extends AnyFunSuite with SparkTestBase {
  test("overlapping drains restore the session's shuffle partitions") {
    import spark.implicits._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val own = (math.min(8, spark.sparkContext.defaultParallelism) + 3).toString
    val (aStarted, bStarted, aDone) =
      (new CountDownLatch(1), new CountDownLatch(1), new CountDownLatch(1))
    // bounded waits: a fix that serialises drains times out here and
    // carries on instead of deadlocking
    def sink(started: CountDownLatch, waitFor: CountDownLatch)(df: DataFrame) = {
      started.countDown()
      waitFor.await(3, TimeUnit.SECONDS)
      df.writeStream.format("memory").outputMode("append")
    }
    spark.conf.set(key, own)
    try {
      // A starts, B starts, A ends, B ends
      val a = Future {
        try drainStream(spark, Seq(1, 2, 3))(sink(aStarted, bStarted))
        finally aDone.countDown()
      }
      assert(aStarted.await(60, TimeUnit.SECONDS))
      val b = Future(drainStream(spark, Seq(4, 5, 6, 7))(sink(bStarted, aDone)))
      val (na, nb) = (Await.result(a, 3.minutes), Await.result(b, 3.minutes))
      assert(spark.conf.get(key) == own)
      assert(spark.table(na).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
      assert(spark.table(nb).as[Int].collect().sorted.toSeq == Seq(4, 5, 6, 7))
    } finally spark.conf.set(key, saved)
  }
}
