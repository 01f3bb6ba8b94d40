package graft.ingestbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSuite extends AnyFunSuite {

  test("the tail is the highest ladder percentile with at least 10 samples beyond it") {
    assert(Stats.tailPct(19) === 50.0) // too few samples: falls back to the median
    assert(Stats.tailPct(20) === 50.0)
    assert(Stats.tailPct(39) === 50.0)
    assert(Stats.tailPct(40) === 75.0)
    assert(Stats.tailPct(100) === 90.0)
    assert(Stats.tailPct(199) === 90.0)
    assert(Stats.tailPct(200) === 95.0)
    assert(Stats.tailPct(1000) === 99.0)
    for (n <- Seq(20, 40, 57, 100, 250, 1000, 5000)) {
      val xs = (1 to n).map(_.toDouble)
      val s = Stats.summarize(xs)
      assert(xs.count(_ > s.tail) >= 10, s"n=$n p=${s.tailPct}")
      assert(s.n === n)
    }
  }

  test("percentiles are nearest-rank") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) === 3.0)
    assert(Stats.percentile(xs, 100) === 5.0)
    assert(Stats.percentile(xs, 1) === 1.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("self time is the span minus the union of its children, clipped to it") {
    val spans = Seq(
      Span(1, "sink.ingest", -1, 0, 0, 100),
      Span(2, "a", 1, 0, 10, 30),
      Span(3, "b", 1, 0, 20, 40), // overlaps a: counted once
      Span(4, "c", 1, 0, 90, 120), // runs past the parent: clipped
      Span(5, "d", 3, 0, 25, 35)) // grandchild: only b's child
    val self = Trace.selfNs(spans)
    assert(self(1) === 100 - (30 + 10))
    assert(self(2) === 20)
    assert(self(3) === 20 - 10)
    assert(self(4) === 30)
    assert(self(5) === 10)
  }

  test("the meter tells the harness's jobs from the engine's, and the driver gap from job time") {
    assert(SparkMeter.HarnessSite.findFirstIn("count at BulkAppend.scala:53").isDefined)
    assert(SparkMeter.HarnessSite.findFirstIn("save at Workload.scala:63").isDefined)
    assert(SparkMeter.HarnessSite.findFirstIn("save at IceTableWriter.scala:395").isEmpty)
    assert(SparkMeter.HarnessSite.findFirstIn("collect at Routing.scala:49").isEmpty)
    val m = new SparkMeter
    def job(id: Int, t0: Long, t1: Long): Unit = {
      m.onJobStart(new org.apache.spark.scheduler.SparkListenerJobStart(id, t0, Nil))
      m.onJobEnd(new org.apache.spark.scheduler.SparkListenerJobEnd(id, t1,
        org.apache.spark.scheduler.JobSucceeded))
    }
    job(1, 100, 300)
    job(2, 200, 400) // overlaps job 1
    job(3, 900, 1200) // runs past the window
    assert(m.gapSeconds(0, 1000) === (1000 - 300 - 100) / 1000.0)
  }

  test("the tracer links nested spans and a disabled tracer records nothing") {
    val tr = new Tracer(true)
    tr.span("outer", 7)(tr.span("inner", 7)(()))
    val byName = tr.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent === byName("outer").id)
    assert(byName("outer").parent === -1)
    assert(byName("inner").batch === 7L)
    val off = new Tracer(false)
    assert(off.span("x", 0)(41 + 1) === 42)
    assert(off.spans.isEmpty)
  }

  test("the same seed gives the same inputs; another seed gives others") {
    def kafka(seed: Long) = (0 until 3).map(b => Gen.kafkaBatch(seed, b, 400).checksum).sum
    assert(kafka(1) === kafka(1))
    assert(kafka(1) !== kafka(2))

    def cdc(seed: Long) = { val s = new Gen.CdcStream(seed, 500); (0 until 3).foreach(s.batch(_, 300)); s.summary }
    assert(cdc(1) === cdc(1))
    assert(cdc(1) !== cdc(2))

    assert(Gen.corpus(1, 0, 200).docs.toSeq === Gen.corpus(1, 0, 200).docs.toSeq)
    assert(Gen.corpus(1, 0, 200).docs.toSeq !== Gen.corpus(2, 0, 200).docs.toSeq)
    assert(Gen.streamRecord(1, 5, 0, 0, "f") === Gen.streamRecord(1, 5, 0, 0, "f"))
  }

  test("a batch's rows can be generated one at a time") {
    val b = Gen.kafkaBatch(3, 2, 400)
    assert(b.rows.toSeq === (0 until 400).map(Gen.kafkaRow(3, 2, 400, _)))
    assert(b.live === b.rows.count(_.value != null))
    assert(b.nextOffsets === (0 until 4).map(p => s"events-$p" -> 300L).toMap)
  }

  test("the CDC reference is last-wins per key over the whole op history") {
    val s = new Gen.CdcStream(9, 50)
    val rows = (0 until 5).flatMap(s.batch(_, 200))
    val last = rows.groupBy(_.id).map { case (k, rs) => k -> rs.maxBy(_.offset) }
    val live = last.collect { case (k, r) if r.op != "D" => k -> (r.v, r.name) }
    assert(s.state.toMap === live)
    // ops are valid in sequence: inserts only for keys that are not live
    val seen = scala.collection.mutable.Set.empty[Long]
    rows.foreach { r =>
      assert((r.op == "I") === !seen.contains(r.id))
      if (r.op == "D") seen -= r.id else seen += r.id
    }
  }
}
