package graft

import graft.GraftFunctions._
import graft.operators.SaltedAgg
import graft.sources.Transcripts
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite with SparkTestBase {
  test("SparkSessionExtensions injects every graft function") {
    // getOrCreate would reuse the shared test session (extensions apply only
    // at session construction), so verify the injection list directly
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val field = ext.getClass.getDeclaredFields
      .find(_.getName.contains("injectedFunctions")).get
    field.setAccessible(true)
    val injected = field.get(ext).asInstanceOf[scala.collection.Seq[_]]
      .map(_.asInstanceOf[Product].productElement(0)
        .asInstanceOf[FunctionIdentifier].funcName).toSet
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(injected == registered)
    // every name the Column facade calls is one of them: invoke each facade
    // method and read the function names off the column it builds (the
    // *_bcast methods build their node directly, not by name)
    val called = GraftFunctions.getClass.getMethods.toSeq
      .filter(m => m.getReturnType == classOf[Column] &&
        !m.getParameterTypes.contains(classOf[Broadcast[_]]))
      .flatMap { m =>
        val args = m.getParameterTypes.map {
          case c if c == classOf[Column] => col("c")
          case c if c == classOf[SparkSession] => spark
          case c if c == classOf[Array[Byte]] => Array[Byte](0)
          case c if c == classOf[String] => "s"
          case java.lang.Integer.TYPE => Int.box(1)
          case java.lang.Long.TYPE => Long.box(1L)
          case java.lang.Double.TYPE => Double.box(0.5)
        }
        val c = m.invoke(GraftFunctions, args: _*).asInstanceOf[Column]
        "graft_\\w+(?=\\()".r.findAllIn(c.toString)
      }.toSet
    assert(called.size > 40, called)
    assert(called.subsetOf(injected), called -- injected)
  }

  test("registered functions work from plain SQL") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      """SELECT graft_hll_estimate(graft_hll_agg(xxhash64(id), 12)) AS est
         FROM range(10000)""").first().getDouble(0)
    assert(math.abs(got - 10000) < 10000 * 0.1, s"est=$got")
  }

  test("typed Dataset API over the canonical Turn case class") {
    val ds = Transcripts.typed(spark, 20)
    val firstTurns = ds.filter(_.turn_idx == 0).count()
    assert(firstTurns == 20)
    assert(ds.collect().forall(t => t.text.nonEmpty && t.conv_id.nonEmpty))
  }

  test("autoTwoStage plans buckets from skew and matches direct agg") {
    val turns = Transcripts.generate(spark, 150, avgTurns = 8,
      skewConvs = 1, skewFactor = 400).cache()
    val buckets = SaltedAgg.planBuckets(turns, Seq("conv_id"),
      sampleFraction = 0.5, targetRowsPerTask = 100)
    assert(buckets > 1, s"skewed conv should trigger salting, got $buckets")
    val auto = SaltedAgg.autoTwoStage(turns, Seq("role"),
      saltOn = Seq(col("conv_id"), col("turn_idx")),
      partialAggs = Seq(hll_agg(col("conv_id"), 12).as("h")),
      finalAggs = Seq(hll_merge_agg(col("h"), 12).as("h")),
      targetRowsPerTask = 100)
    val direct = turns.groupBy("role").agg(hll_agg(col("conv_id"), 12).as("h"))
    val a = auto.orderBy("role").collect()
    val d = direct.orderBy("role").collect()
    a.zip(d).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(
        x.getAs[Array[Byte]](1), y.getAs[Array[Byte]](1)))
    }
    turns.unpersist()
  }
}
