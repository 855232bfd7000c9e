package curbench

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Clean, HtmlText}

class BenchSpec extends AnyFunSuite {

  private def extractedText(html: Array[Byte]): String =
    Clean.basicCleanStr(HtmlText.extract(html))

  test("the same seed gives the same content hash, another seed another one") {
    assert(Inputs.contentHash(Inputs.synth(3, 50)) == Inputs.contentHash(Inputs.synth(3, 50)))
    assert(Inputs.contentHash(Inputs.synth(3, 50)) != Inputs.contentHash(Inputs.synth(4, 50)))
    val a = SparseCorpus.generate(3, 200)._1
    assert(Inputs.contentHash(a) == Inputs.contentHash(SparseCorpus.generate(3, 200)._1))
    assert(Inputs.contentHash(a) != Inputs.contentHash(SparseCorpus.generate(4, 200)._1))
  }

  test("seeded SynthCorpus slices do not overlap") {
    val a = Inputs.synth(1, 100).map(_.url).toSet
    val b = Inputs.synth(2, 100).map(_.url).toSet
    assert(a.size == 100 && (a intersect b).isEmpty)
  }

  test("stratified SynthCorpus slices hold the same length mix for every seed") {
    def mix(seed: Long) = Inputs.synth(seed, 300)
      .map(d => Inputs.stratum(graft.fixtures.SynthCorpus.bodyFor(
        d.url.split("/").last.toLong).length))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    assert(mix(1) == mix(2))
    assert(mix(1).values.sum == 300 && mix(1).size >= 4)
    assert(Inputs.strataQuota(300).sum == 300)
  }

  test("input files get equal row counts and near-equal bytes") {
    val docs = Inputs.synth(5, 2000)
    val sizes = docs.map(_.html.length.toLong)
    val groups = Workloads.balancedGroups(sizes, 16)
    assert(groups.flatten.sorted == sizes.indices)
    assert(groups.map(_.length).toSet == Set(125))
    groups.foreach(g => assert(g == g.sorted))
    val bytes = groups.map(_.map(sizes).sum)
    assert(bytes.max - bytes.min <= sizes.max, bytes)
  }

  test("planted copies: near copies keep trigram Jaccard >= 0.8, exact copies 1.0") {
    val (docs, truth) = SparseCorpus.generate(11, 600)
    val text = docs.map(d => d.url -> extractedText(d.html)).toMap
    assert(truth.count(_.kind == "near") >= 10 && truth.count(_.kind == "exact") >= 10)
    assert(truth.map(_.srcUrl).distinct.length == truth.length, "one copy per source")
    truth.foreach { t =>
      val j = Inputs.jaccard(Inputs.trigrams(text(t.copyUrl)), Inputs.trigrams(text(t.srcUrl)))
      if (t.kind == "exact") assert(j == 1.0, t)
      else assert(j >= 0.8 && j < 1.0, s"$t: $j")
    }
  }

  test("sampled unplanted pairs stay far below the near-dup threshold") {
    val (docs, truth) = SparseCorpus.generate(12, 600)
    val planted = truth.flatMap(t => Seq(t.copyUrl, t.srcUrl)).toSet
    val free = docs.filterNot(d => planted(d.url))
      .map(d => Inputs.trigrams(extractedText(d.html)))
    val r = new java.util.SplittableRandom(5)
    val worst = (0 until 400).map { _ =>
      val i = r.nextInt(free.length)
      var j = r.nextInt(free.length)
      while (j == i) j = r.nextInt(free.length)
      Inputs.jaccard(free(i), free(j))
    }.max
    assert(worst < 0.8 && worst < 0.1, s"max sampled Jaccard $worst")
  }

  test("self time is the span minus its children, clamped at zero") {
    assert(Stats.selfTime(10.0, Seq(2.0, 3.5)) == 4.5)
    assert(Stats.selfTime(1.0, Nil) == 1.0)
    assert(Stats.selfTime(1.0, Seq(0.6, 0.6)) == 0.0)
  }

  test("reported percentiles are nearest-rank samples") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.aboveCount(xs, 90) == 10)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 90) == 3.0)
    assert(Stats.percentile(Seq(7.0), 50) == 7.0)
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("the order-independent digest ignores row order, not content") {
    assert(Workloads.digest(Seq("a", "b", "c")) == Workloads.digest(Seq("c", "a", "b")))
    assert(Workloads.digest(Seq("a", "b")) != Workloads.digest(Seq("a", "b", "b")))
    assert(Workloads.digest(Seq("a", "b")) != Workloads.digest(Seq("a", "c")))
  }
}
