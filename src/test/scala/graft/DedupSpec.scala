package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.textanalysis.TextAnalysis

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the river bank " * 8
  private val nearDup = base.replace("lazy dog", "sleepy dog") // few tokens differ
  private val unrelated = "completely different content about quantum field theory and gravity waves " * 8

  private lazy val df = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, unrelated), (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val survivors = Dedup.exactSurvivors(df, "doc_id", "text")
    assert(survivors.count() == 4) // 2 collapses into 1
  }

  test("exactSurvivors: null-text rows group; dup ids with different text kept") {
    // the groupBy+join form's two edge contracts (round-6 self-review):
    // null text groups under the sentinel fingerprint (null md5 keys
    // never equi-join), and the loser anti-join keys on (id, fp) so a
    // duplicate id carrying DIFFERENT text is not collaterally dropped
    val edge = Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String]), (3L, "a"), (4L, "a"), (4L, "b"))
      .toDF("doc_id", "text")
    val surv = Dedup.exactSurvivors(edge, "doc_id", "text")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(surv == Set((1L, None), (3L, Some("a")), (4L, Some("b"))))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashPairs(df, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc paired: $pairs")
  }

  test("minhash jaccard estimates match exact jaccard on the verified pair") {
    val r = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.0)
      .filter(col("id_a") === 1 && col("id_b") === 2).head()
    assert(r.getAs[Double]("jaccard") == 1.0) // identical docs
  }

  test("simhash: identical texts agree; near dups are close; unrelated far") {
    val sigs = df.filter(length(col("text")) > 0)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 12,
      s"near dup hamming too large: ${java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))}")
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) > 12,
      s"unrelated docs too close: ${java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))}")
  }

  test("native simhash equals the HOF reference form and stays in codegen") {
    val corpus = graft.fixtures.SynthCorpus.docsRaw(spark, 120, 4).toDF()
      .withColumn("text", graft.extract.Clean.basicClean(
        graft.extract.HtmlText.extractCol(col("html"))))
      .select("text")
    val edges = Seq("", " ", "\thello world", "a  b", "MIXED Case",
      "tab\tand\nnewline", "one").toDF("text")
    for (df <- Seq(corpus, edges)) {
      val bad = df.filter(
        Dedup.simhash(col("text")) =!= Dedup.simhashHof(col("text"))).count()
      assert(bad == 0)
    }
    val plan = spark.range(3).select(Dedup.simhash(
      concat(lit("tok "), col("id").cast("string"))).as("s"))
    assert(plan.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("ngram jaccard pairs: identical docs score 1.0, manual value checks") {
    val tiny = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b x"), (4L, "z z z"))
      .toDF("doc_id", "text")
    val m = Dedup.ngramJaccardPairs(tiny, "doc_id", "text", n = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    assert(m((1L, 2L)) == 1.0)
    assert(m((1L, 3L)) == 0.5) // {a,b,c} vs {a,b,x}: 2/4
    assert(!m.contains((1L, 4L))) // no shared tokens → inner-join semantics
  }

  test("prefix-filtered pairs (minJaccard > 0) equal the full inverted-index join") {
    // adversarial shape for prefix filtering: tiny vocabulary → every doc
    // shares tokens with every other, many pairs sit near the threshold;
    // planted near-dups guarantee pairs ABOVE it
    val rnd = new scala.util.Random(11)
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val bases = (0 until 40).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    }
    val nearDups = (0 until 10).map { i =>
      (100L + i, bases(i)._2 + " " + vocab(rnd.nextInt(vocab.length)))
    }
    val df = (bases ++ nearDups).toDF("doc_id", "text")
    for (n <- Seq(1, 3); t <- Seq(0.5, 0.72, 0.8)) {
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val full = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = n)
        .filter(col("jaccard") >= t).collect().map(key).toSet
      val fast = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = n,
        minJaccard = t).collect().map(key).toSet
      assert(fast == full, s"n=$n t=$t: prefix path diverged from full join")
      assert(full.nonEmpty, s"n=$n t=$t: degenerate fixture (no pairs)")
    }
  }

  test("prefix path df cap: map-side aggregate, no tok window, same metrics") {
    // round-6: the prefix path computes df via groupBy(tok).count +
    // join-back, not a count window over partitionBy(tok) — a planted
    // stopword flood must (a) be dropped from the index with the cap
    // metrics the window form reported (dropped postings = Σ df over
    // capped tokens), (b) leave candidates intact (docs 0/1 pair via
    // low-df "pairme"; verification is exact over FULL sets, so "the"
    // still counts toward the intersection), and (c) produce a plan with
    // a partial aggregate keyed on tok and NO window partitioned by tok
    // (the only window is the per-doc prefix rank, partitioned by id).
    val flood = spark.range(0, 30).select(col("id").as("doc_id"),
      concat(lit("the unique"), col("id"), lit(" token"), col("id"),
        when(col("id") < 2, lit(" pairme")).otherwise(lit(""))).as("text"))
    val pairs = Dedup.ngramJaccardPairs(flood, "doc_id", "text", n = 1,
      minJaccard = 0.2, maxDf = 5)
    val got = pairs.collect().map(r =>
      ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    // {the,unique0,token0,pairme} ∩ {the,unique1,token1,pairme} = 2, ∪ = 6
    assert(got.keySet == Set((0L, 1L)), s"only the pairme pair: $got")
    assert(got((0L, 1L)) == math.rint(2.0 / 6.0 * 1e6) / 1e6)
    val metrics = pairs.queryExecution.observedMetrics("ngram_df_cap")
    assert(metrics.getAs[Long]("dropped_postings") == 30L)
    assert(metrics.getAs[Long]("max_df") == 30L)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*HashAggregate\\(keys=\\[tok[#\\d]*L?\\]" +
      ".*partial_count.*"),
      s"expected a partial aggregate keyed on tok; plan:\n${plan.take(4000)}")
    assert(!plan.contains("windowspecdefinition(tok"),
      s"df must not come from a window partitioned by tok:\n${plan.take(4000)}")
  }

  test("rolling fingerprint: Column and String mirrors agree") {
    val inputs = Seq("hello world", "", "a", base, "café π∂")
    val got = inputs.toDF("t")
      .select(TextAnalysis.rollingFingerprint(col("t")).as("fp"))
      .collect().map(_.getLong(0))
    val want = inputs.map(TextAnalysis.rollingFingerprintStr)
    assert(got.toSeq == want)
  }

  test("minhash bucket cap bounds a planted mega-bucket and reports the drop") {
    // 40 byte-identical docs → all bands land in the same buckets; with
    // maxBucket=8 the pair count must be C(8,2)=28 per-band-deduped, never
    // C(40,2)=780, and the observe node must report the capped buckets
    val flood = spark.range(0, 40).select(col("id").as("doc_id"),
      lit("identical boilerplate page body repeated words here " * 4).as("text"))
    val pairs = Dedup.minhashPairs(flood, "doc_id", "text",
      shingleN = 3, threshold = 0.0, maxBucket = 8)
    // collect() (not count()) — observed metrics live on THIS dataset's QE
    val n = pairs.collect().length
    assert(n == 28, s"expected C(8,2)=28 capped pairs, got $n")
    val metrics = pairs.queryExecution.observedMetrics("minhash_bucket_cap")
    assert(metrics.getAs[Long]("capped_buckets") == 8L) // every band capped
    assert(metrics.getAs[Long]("dropped_ids") == 8L * 32L) // 40-8 per band
  }

  test("ngram df cap bounds a planted stopword flood and reports the drop") {
    // every doc shares token "the" (df=30 > maxDf=5) but is otherwise
    // unique; docs 0 and 1 also share low-df token "pairme" so the result
    // is non-empty (a fully-empty result lets AQE's empty-relation rule
    // prune the CollectMetrics node out of the final plan)
    val flood = spark.range(0, 30).select(col("id").as("doc_id"),
      concat(lit("the unique"), col("id"), lit(" token"), col("id"),
        when(col("id") < 2, lit(" pairme")).otherwise(lit(""))).as("text"))
    val pairs = Dedup.ngramJaccardPairs(flood, "doc_id", "text", n = 1, maxDf = 5)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)), s"only the pairme pair must survive: $got")
    val metrics = pairs.queryExecution.observedMetrics("ngram_df_cap")
    assert(metrics.getAs[Long]("dropped_postings") == 30L)
    assert(metrics.getAs[Long]("max_df") == 30L)
    // and with the cap above df the full pair set comes back
    assert(Dedup.ngramJaccardPairs(flood, "doc_id", "text", n = 1,
      maxDf = 10000).count() == 30L * 29L / 2)
  }

  test("ngram df cap metrics are 0, not null, on a zero-token corpus") {
    // AQE off: on an empty result its empty-relation propagation drops
    // the CollectMetrics node from the final plan, so no metric is left
    // to read (see the planted-flood test above)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val empty = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
      for (minJaccard <- Seq(0.0, 0.8)) {
        val pairs = Dedup.ngramJaccardPairs(empty, "doc_id", "text", n = 1,
          minJaccard = minJaccard, maxDf = 5)
        assert(pairs.collect().isEmpty)
        val metrics = pairs.queryExecution.observedMetrics("ngram_df_cap")
        // isNullAt too: Scala unboxes a null getAs[Long] to 0 silently
        for (m <- Seq("dropped_postings", "max_df")) {
          assert(!metrics.isNullAt(metrics.fieldIndex(m)), s"$m null, minJaccard=$minJaccard")
          assert(metrics.getAs[Long](m) == 0L, s"$m, minJaccard=$minJaccard")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("native HashedShinglesExpr ≡ transform(shingles, xxhash64), stays in codegen") {
    val rnd = new scala.util.Random(37)
    val edge = Seq(
      "",                      // empty → empty array
      "   ",                   // blank (spaces trim away) → empty array
      "one two",               // fewer tokens than n
      "\thello world now",     // leading tab survives trim → leading "" token
      "ends with tab\t",       // trailing ws run → trailing "" token
      "a  bc\nd e f",    // mixed Java-\s separators incl. vertical tab
      "MIXED Case ÉÀ tokens ß here",      // non-ASCII lowercase path
      "répé tée répé tée répé tée words", // repeated shingles → distinct
      "七 是 一 个 数字 和 更多 词")       // multi-byte UTF-8
    val docs = (edge.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      (100 until 160).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(40))(
          s"w${rnd.nextInt(30)}" + (if (rnd.nextBoolean()) "é" else ""))
          .mkString(" "))
      }).toDF("doc_id", "text")
    for (n <- Seq(1, 3)) {
      val rows = docs.select(
        Dedup.hashedShingles(col("text"), n).as("native"),
        transform(Dedup.shingles(col("text"), n), s => xxhash64(s)).as("ref"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n diverged")
      }
    }
    // null text → null (mirrors the Column form's null propagation)
    val nr = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(Dedup.hashedShingles(col("text"), 3).as("native"),
        transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)).as("ref"))
      .head()
    assert(nr.isNullAt(0) && nr.isNullAt(1))
    // codegen: the expression must not split the span (no CodegenFallback)
    val plan = spark.range(3).select(Dedup.hashedShingles(
      concat(lit("tok "), col("id").cast("string")), 3).as("s"))
    assert(plan.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("native MinHashSigExpr ≡ the aggregate/zip_with HOF form") {
    val rnd = new scala.util.Random(23)
    val docs = (0 until 60).map { i =>
      (i.toLong, i match {
        case 0 => ""                        // empty → all Long.MaxValue
        case 1 => "   "                     // blank → empty shingle set
        case 2 => "one two"                 // fewer tokens than n
        case _ => Seq.fill(3 + rnd.nextInt(40))(
          s"w${rnd.nextInt(30)}" + (if (rnd.nextBoolean()) "é" else ""))
          .mkString(" ")
      })
    }.toDF("doc_id", "text")
    for (k <- Seq(1, 32);
         sh <- Seq(Dedup.shingles(col("text"), 3),        // array<string>
           Dedup.hashedShingles(col("text"), 3))) {       // array<long>
      val rows = docs.select(
        Dedup.minhashSignature(sh, k).as("native"),
        Dedup.minhashSignatureHof(sh, k).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k diverged")
      }
    }
  }

  test("minhash signature is partition-invariant") {
    val many = spark.range(0, 50).select(col("id").as("doc_id"),
      concat(lit("doc text sample number "), col("id"),
        lit(" with shared suffix words here")).as("text"))
    val a = many.coalesce(1)
      .select(col("doc_id"), xxhash64(Dedup.minhashSignature(
        Dedup.shingles(col("text"), 3), 32)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = many.repartition(7)
      .select(col("doc_id"), xxhash64(Dedup.minhashSignature(
        Dedup.shingles(col("text"), 3), 32)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  // both strategies: the default size-gated driver union-find, and the
  // distributed HashMin+jump loop (forced via collectThreshold = 0)
  private def components(pairs: Seq[(Long, Long)],
                         collectThreshold: Int = 1 << 22): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"), "id_a", "id_b",
        collectThreshold = collectThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components: known clusters get min-id labels (both paths)") {
    // {1,2,3} via 1-2, 2-3; {5,6}; {10,11,12} via a triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    assert(components(pairs) == want)                      // union-find
    assert(components(pairs, collectThreshold = 0) == want) // loop
  }

  test("connected components: jump-stable round must not read as converged") {
    // edges (3,5),(4,5): round 1's hop moves only v5 (5→3) and the jump
    // moves nothing — a probe comparing against the hop label (instead
    // of the pre-round label) would stop here with v4 stranded in its
    // own component
    assert(components(Seq((3L, 5L), (4L, 5L)), collectThreshold = 0) ==
      Map(3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("connected components: long path needs multiple propagation rounds") {
    // path 1-2-...-12 (diameter 11) in the worst edge orientation:
    // labels must travel the whole chain, exercising the iteration +
    // convergence probe, not just one round — force the LOOP path
    val got = components((1L until 12L).map(i => (i + 1, i)),
      collectThreshold = 0)
    assert(got == (1L to 12L).map(_ -> 1L).toMap)
  }

  test("connected components works over string ids (urls)") {
    // the operator is type-generic: labels are MIN over the id type's
    // ordering — for urls that is lexicographic, still a deterministic
    // canonical representative
    val pairs = Seq(("http://b", "http://c"), ("http://c", "http://a"),
      ("http://z", "http://y")).toDF("id_a", "id_b")
    val want = Map("http://a" -> "http://a", "http://b" -> "http://a",
      "http://c" -> "http://a", "http://y" -> "http://y",
      "http://z" -> "http://y")
    for (thr <- Seq(1 << 22, 0)) {
      val got = Dedup.connectedComponents(pairs, "id_a", "id_b",
          collectThreshold = thr)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == want, s"threshold=$thr")
    }
  }

  test("connected components drops null-id pairs identically on both paths") {
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L)),
      (Some(4L), None), (Some(5L), Some(6L)))
      .toDF("id_a", "id_b")
    for (thr <- Seq(1 << 22, 0)) {
      val got = Dedup.connectedComponents(pairs, "id_a", "id_b",
          collectThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L),
        s"threshold=$thr")
    }
  }

  test("connected components: fixpoint property on a random graph") {
    val rnd = new scala.util.Random(42)
    val ids = (0L until 60L)
    val pairs = Seq.fill(50)((ids(rnd.nextInt(60)), ids(rnd.nextInt(60))))
      .filter { case (a, b) => a != b }
    val got = components(pairs, collectThreshold = 0)
    // the two strategies must agree exactly (the q50 oracle checks the
    // default path; this pins loop == union-find)
    assert(got == components(pairs))
    // every vertex in the pair list is labeled; label <= id; and the
    // labeling is a FIXPOINT: no edge connects two different components
    val verts = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    assert(got.keySet == verts)
    got.foreach { case (id, c) => assert(c <= id) }
    pairs.foreach { case (a, b) => assert(got(a) == got(b),
      s"edge ($a,$b) crosses components ${got(a)} / ${got(b)}") }
    // each component's label is a member of the component
    got.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keySet.contains(c))
      assert(members.keys.min == c)
    }
  }
}
