package curbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom

import graft.fixtures.SynthCorpus
import graft.lang.LangId
import graft.model.WebDoc
import graft.rules.Heuristics

/** A copy the sparse generator planted: `copyUrl` carries the text of
  * `srcUrl`, verbatim (`kind = "exact"`) or with a few words replaced
  * (`kind = "near"`, trigram Jaccard >= 0.8 with the source).
  */
final case class Planted(copyUrl: String, srcUrl: String, kind: String)

/** Seeded inputs. Generation runs on the caller thread of one process;
  * the same (seed, n) always gives the same rows in the same order, and
  * [[contentHash]] fingerprints them.
  */
object Inputs {

  /** Row-index offset that `seed` selects in the SynthCorpus stream: every
    * SynthCorpus row is a pure function of (42, i), so distinct offsets give
    * distinct, equally distributed slices (80/15/5 language mix, Zipf hosts,
    * 0–20k length spectrum).
    */
  def synthOffset(seed: Long): Long = seed * 1000003L

  /** Upper bounds of the body-length strata. */
  private val StrataBounds = Array(200, 600, 1200, 3000, 10000, Int.MaxValue)

  def stratum(bodyLength: Int): Int = StrataBounds.indexWhere(bodyLength < _)

  /** Each stratum's share of a fixed reference slice (rows 0 until 2400). */
  private lazy val StrataShare: Array[Double] = {
    val ref = (0L until 2400L).map(i => stratum(SynthCorpus.bodyFor(i).length))
    StrataBounds.indices.map(k => ref.count(_ == k) / 2400.0).toArray
  }

  /** How many of `n` rows each stratum takes; the rounding remainder goes
    * to the largest stratum.
    */
  def strataQuota(n: Int): Array[Int] = {
    val q = StrataShare.map(s => (n * s).toInt)
    q(StrataShare.indexOf(StrataShare.max)) += n - q.sum
    q
  }

  /** `n` SynthCorpus rows read from the seed's offset on, stratified by
    * body length: each stratum takes its reference share and skips rows
    * once it is full. A plain slice lets the count of 20k-char documents
    * (most of the bytes) drift by ~5% from seed to seed, and the cost of a
    * call with it.
    */
  def synth(seed: Long, n: Int): IndexedSeq[WebDoc] = {
    val quota = strataQuota(n)
    val out = IndexedSeq.newBuilder[WebDoc]
    var left = n
    var i = synthOffset(seed)
    while (left > 0) {
      val body = SynthCorpus.bodyFor(i)
      val k = stratum(body.length)
      if (quota(k) > 0) {
        quota(k) -= 1
        left -= 1
        out += WebDoc(SynthCorpus.urlFor(i), SynthCorpus.tsFor(i),
          SynthCorpus.htmlFor(i, body).getBytes("UTF-8"), "", "")
      }
      i += 1
    }
    out.result()
  }

  /** md5 over every row's url, timestamp and html bytes, in row order. */
  def contentHash(docs: Seq[WebDoc]): String = {
    val md = MessageDigest.getInstance("MD5")
    docs.foreach { d =>
      md.update(d.url.getBytes("UTF-8")); md.update(0: Byte)
      md.update(java.lang.Long.toString(d.warc_ts.getTime).getBytes("UTF-8"))
      md.update(0: Byte); md.update(d.html); md.update(1: Byte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Lowercased whitespace word trigrams — the same shingling the near-dup
    * stages define (Dedup.shingles: split(lower(trim(text)), "\\s+")).
    */
  def trigrams(text: String): Set[String] = {
    val t = text.trim.toLowerCase(java.util.Locale.ROOT)
    if (t.isEmpty) Set.empty
    else t.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size
}

/** The low-duplication corpus of `curate_sparse`: a large pseudo-word
  * vocabulary mixed with the English stopwords and the physics terms the
  * gates count, so gate pass rates stay comparable to SynthCorpus, with a
  * few percent planted exact and near copies as ground truth.
  */
object SparseCorpus {

  val VocabSize = 30000
  val ExactFrac = 0.02
  val NearFrac = 0.02

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "te",
    "vo", "zi", "pa", "qu", "ber", "dan", "fel", "gor", "hin", "jas", "mor",
    "nix", "tul", "wen", "yor", "bri", "cle", "dro", "fla", "gri", "pre")

  /** Fixed pseudo-words of 2–4 syllables, all distinct. */
  lazy val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val k = 2 + r.nextInt(3)
      seen += (0 until k).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    seen.toArray
  }

  private val Stop: Array[String] =
    (LangId.EnglishStopwords10 ++ Seq("we", "can", "from", "this", "are",
      "be", "on", "by", "as", "it")).toArray
  private val Physics: Array[String] =
    (Heuristics.PhysicsTerms ++ Heuristics.PhysicsIndicators ++
      Heuristics.VixraIndicators).distinct.toArray

  private def rng(seed: Long, i: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + stream)

  private def word(r: SplittableRandom): String = {
    val p = r.nextDouble()
    if (p < 0.30) Stop(r.nextInt(Stop.length))
    else if (p < 0.36) Physics(r.nextInt(Physics.length))
    else {
      // heavy-tailed rank: a few common words, a long tail of rare ones
      val u = r.nextDouble()
      Vocab(math.min(VocabSize - 1, (math.pow(u, 2.5) * VocabSize).toInt))
    }
  }

  /** An original body: sentences of 8–20 words, 150–900 words total. */
  def body(seed: Long, i: Long): String = {
    val r = rng(seed, i, 1)
    val target = 150 + r.nextInt(751)
    val sb = new StringBuilder
    var words = 0
    while (words < target) {
      val len = 8 + r.nextInt(13)
      var k = 0
      while (k < len) {
        val w = word(r)
        sb.append(if (k == 0) w.capitalize else w)
        sb.append(if (k == len - 1) ". " else " ")
        k += 1
      }
      words += len
    }
    sb.toString.trim
  }

  /** `src` with about one word in 100 replaced by a vocabulary word (at
    * least one, never the same word), keeping the trigram Jaccard with the
    * source near 0.94.
    */
  def nearCopy(seed: Long, i: Long, src: String): String = {
    val r = rng(seed, i, 2)
    val toks = src.split(" ")
    val edits = math.max(1, toks.length / 100)
    (0 until edits).foreach { _ =>
      val at = r.nextInt(toks.length)
      var w = toks(at)
      while (w == toks(at)) w = Vocab(r.nextInt(VocabSize))
      toks(at) = w
    }
    toks.mkString(" ")
  }

  def html(title: String, body: String): String = {
    val paras = body.split("(?<=\\. )").grouped(6).map(_.mkString.trim)
      .map(p => s"<p>$p</p>").mkString("\n")
    s"<html><head><title>$title</title></head><body>\n$paras\n</body></html>"
  }

  def url(seed: Long, i: Int): String =
    s"https://site${i % 40}.example.net/article/$seed-$i"

  /** `n` documents for `seed`: the first n - copies are originals, the rest
    * copy one original each (distinct sources), alternating exact/near.
    */
  def generate(seed: Long, n: Int): (IndexedSeq[WebDoc], IndexedSeq[Planted]) = {
    val copies = math.round(n * (ExactFrac + NearFrac)).toInt
    val originals = n - copies
    val bodies = new Array[String](n)
    val truth = IndexedSeq.newBuilder[Planted]
    (0 until n).foreach { i =>
      if (i < originals) bodies(i) = body(seed, i)
      else {
        val k = i - originals
        // spread the sources over the originals, one copy per source
        val src = (k.toLong * 7919L % originals).toInt
        val kind = if (k % 2 == 0) "exact" else "near"
        bodies(i) = if (kind == "exact") bodies(src) else nearCopy(seed, i, bodies(src))
        truth += Planted(url(seed, i), url(seed, src), kind)
      }
    }
    val docs = (0 until n).map { i =>
      WebDoc(url(seed, i), new Timestamp(1735689600000L + i * 1000L),
        html(s"Article $i", bodies(i)).getBytes("UTF-8"), "", "")
    }
    (docs, truth.result())
  }
}
