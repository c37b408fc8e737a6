package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("the generator is deterministic per seed and differs across seeds") {
    def snap(seed: Long) = {
      val c = Gen.corpus(seed, 200, 5, 3)
      val e = Gen.embeddings(seed, 100, 8, 3).map(v => (v.vec_id, v.embedding.toSeq, v.label))
      val g = Gen.grid(seed, 8, 30, 8, 8)
      val q = (0 until 3).map(c => Gen.requests(seed, c, g.regions, 30).take(50).toList)
      (c.docs, c.chainLengths, c.batchOf, e, g, q)
    }
    assert(snap(7) == snap(7))
    assert(snap(7) != snap(8))
  }

  test("every block of eight dashboard requests holds the fixed shape mix") {
    val g = Gen.grid(3, 8, 30, 8, 8)
    for (c <- 0 until 3) {
      Gen.requests(3, c, g.regions, 30).take(80).grouped(8).foreach { block =>
        assert(block.map(_.shape).sorted ==
          Seq("keys", "kpi", "range", "range", "range", "range", "wide", "wide"))
      }
    }
  }

  test("chains: neighbours clear tau, chain ends do not, ids ascend, the longest is fixed") {
    def jaccard(a: String, b: String) = {
      val (x, y) = (a.split(" ").toSet, b.split(" ").toSet)
      (x intersect y).size.toDouble / (x union y).size
    }
    for (seed <- 1L to 3L) {
      val c = Gen.corpus(seed, 0, 6, 3)
      assert(c.chainLengths.max == Gen.MaxChain)
      c.chainLengths.zipWithIndex.foreach { case (len, i) =>
        val prefix = s"c${i}w"
        def maxWord(t: String) = t.split(" ").map(_.stripPrefix(prefix).toInt).max
        // member k carries pool word ChainWords + k - 1 as its highest
        val chain = c.docs.filter(_.text.split(" ").forall(_.startsWith(prefix)))
          .sortBy(d => maxWord(d.text))
        assert(chain.size == len)
        assert(chain.map(_.source).distinct.size == 1)
        chain.sliding(2).foreach { case Seq(a, b) => assert(jaccard(a.text, b.text) >= 0.7) }
        assert(jaccard(chain.head.text, chain.last.text) < 0.7)
        assert(chain.map(_.doc_id) == chain.map(_.doc_id).sorted)
      }
      // every doc lands in exactly one micro-batch
      assert(c.docs.forall(d => c.batchOf(d.doc_id) >= 0 && c.batchOf(d.doc_id) < 3))
    }
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs) == Some((99.0, 990.0)))
    assert(Stats.tail(xs.take(999)).map(_._1) == Some(95.0))
    assert(Stats.tail(xs.take(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(xs.take(20)).map(_._1) == Some(50.0))
    assert(Stats.tail(xs.take(19)).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("every metric in BENCHMARK.json is emitted with its unit") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def listed(key: String) = {
      val it = spec.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText -> m.get("unit").asText).toList
    }
    assert(listed("end_to_end") == Main.EndToEnd)
    assert(listed("per_layer") == TraceOut.PerLayer)
    val reports = Seq.empty[Tracer.SpanReport]
    val m = TraceOut.metrics(reports, _ => Nil, 0.0)
    assert(TraceOut.PerLayer.map(_._1).toSet == m.keySet)
  }
}
