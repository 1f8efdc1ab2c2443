package perfbench

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("a span's self time is its duration minus its children's") {
    val l = new Ledger(on = true)
    l.span("outer") {
      Thread.sleep(5)
      l.span("inner")(Thread.sleep(20))
      l.span("inner")(Thread.sleep(10))
    }
    val t = l.snapshot()
    assert(t("inner").count == 2)
    assert(t("inner").selfNs == t("inner").ns)
    assert(t("outer").selfNs == t("outer").ns - t("inner").ns)
    assert(t("outer").selfNs >= 5000000L)
    assert(t("outer").selfNs < t("inner").ns)
  }

  test("an untraced ledger records nothing and tags nothing") {
    val l = new Ledger(on = false)
    var tags = 0
    l.tag = _ => tags += 1
    assert(l.span("x")(41 + 1) == 42)
    assert(l.snapshot().isEmpty && tags == 0)
  }

  test("spans tag the innermost open name and restore the parent's") {
    val l = new Ledger(on = true)
    val seen = scala.collection.mutable.Buffer[String]()
    l.tag = seen += _
    l.span("a")(l.span("b")(()))
    assert(seen == Seq("a", "b", "a", null))
  }

  test("listener credits jobs, stages and tasks to the span that ran them") {
    val spark = SparkSession.builder().master("local[2]")
      .appName("trace-spec").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val l = new Ledger(on = true)
      Ledger.tagJobs(l, sc)
      val listener = new SpanListener
      sc.addSparkListener(listener)
      sc.parallelize(1 to 10, 2).count()              // outside any span
      l.span("a") {
        sc.parallelize(1 to 10, 3).count()
        l.span("b")(sc.parallelize(1 to 10, 2).map(x => (x % 2, x))
          .reduceByKey(_ + _).count())               // two stages
      }
      ListenerBridge.waitUntilEmpty(sc)
      val c = listener.drain()
      assert(c(SpanListener.Unattributed).jobs == 1)
      assert(c("a").jobs == 1 && c("a").stages == 1 && c("a").tasks == 3)
      assert(c("b").jobs == 1 && c("b").stages == 2 && c("b").tasks == 4)
      assert(c("b").shuffleWrite > 0 && c("b").shuffleRead > 0)
      assert(listener.drain().isEmpty)
    } finally spark.stop()
  }
}
