package perfbench

import org.apache.spark.BenchAccess

class TraceSpec extends SparkSuite {

  private def span(id: Int, start: Long, end: Long, parent: Int = -1) =
    Span(id, s"s$id", parent, 0, start, end)

  test("self time subtracts the union of the children, clipped to the span") {
    val p = span(0, 0, 100)
    assert(Trace.selfNs(p, Nil) == 100)
    // overlapping children count once: [10, 40) ∪ [30, 50) = 40
    assert(Trace.selfNs(p, Seq(span(1, 10, 40, 0), span(2, 30, 50, 0))) == 60)
    // a child running past the parent's end is clipped
    assert(Trace.selfNs(p, Seq(span(1, 90, 130, 0))) == 90)
    assert(Trace.selfNs(p, Seq(span(1, 0, 100, 0))) == 0)
  }

  test("spans nest, share a trace id per op, and restore the job group") {
    val tr = new Tracer(Some(spark.sparkContext))
    tr.op("a") { tr.span("a.1")(()); tr.span("a.2")(tr.span("a.2.x")(())) }
    tr.op("b")(())
    val byName = tr.all.map(s => s.name -> s).toMap
    assert(byName("a.1").parent == byName("a").id)
    assert(byName("a.2.x").parent == byName("a.2").id)
    assert(byName("a").parent == -1)
    assert(byName("a.2.x").traceId == byName("a").traceId)
    assert(byName("b").traceId == byName("a").traceId + 1)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("jobs are attributed to the innermost open span by job group") {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    try {
      val tr = new Tracer(Some(sc))
      val (_, outer) = tr.timed("outer") {
        sc.parallelize(1 to 10, 2).count()
        tr.span("inner") {
          sc.parallelize(1 to 10, 3).count()
          sc.parallelize(1 to 10, 3).map(_ * 2).count()
        }
      }
      sc.parallelize(1 to 10, 2).count() // outside any span
      BenchAccess.drainListeners(sc)
      val inner = tr.all.find(_.name == "inner").get
      assert(listener.of(outer.id).jobs == 1)
      assert(listener.of(outer.id).tasks == 2)
      assert(listener.of(inner.id).jobs == 2)
      assert(listener.of(inner.id).tasks == 6)
      assert(listener.sum(Seq(outer.id, inner.id)).jobs == 3)
    } finally sc.removeSparkListener(listener)
    assert(Trace.spanOfGroup(Trace.GroupPrefix + "12").contains(12))
    assert(Trace.spanOfGroup("someone-else").isEmpty)
    assert(Trace.spanOfGroup(null).isEmpty)
  }
}
