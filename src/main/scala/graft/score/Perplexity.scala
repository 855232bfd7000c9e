package graft.score

/** M2 — hashed n-gram perplexity scorer (SURVEY.md §2.7 M2; BASELINE.json
  * north_rule: "hashed n-gram (Kneser-Ney-style) perplexity model batched
  * per partition").
  *
  * The model is a hashed unigram+bigram table with absolute-discount
  * interpolation (the Kneser-Ney smoothing family): per-token probability
  *   P(v|u) = max(c(uv)-D, 0)/c(u·) + D·N1+(u·)/c(u·) · P_uni(v)
  * backing off to the add-0.5-smoothed hashed unigram P_uni when the
  * context is unseen. Both tables are built deterministically from an
  * embedded English frequency lexicon and bigram list (Zipf rank weights —
  * public knowledge, no RNG, no external data). It is evaluated by a
  * native call of `scoreShared` over the JVM-static instance — explicitly
  * NOT a row-at-a-time UDF (SURVEY.md §2.7).
  *
  * The same `score(text)` function is used by the row-at-a-time reference
  * oracle, so pipeline/oracle parity holds by construction and tests verify
  * partition-count invariance instead.
  */
object Perplexity {

  /** Embedded top-of-Zipf English lexicon (public knowledge). Rank order
    * matters: count(rank r) = Total / (r+1).
    */
  private val Lexicon: Seq[String] = Seq(
    "the", "of", "and", "a", "to", "in", "is", "that", "for", "with",
    "it", "as", "was", "on", "be", "by", "this", "are", "we", "from",
    "at", "or", "an", "which", "not", "have", "has", "can", "but", "his",
    "they", "been", "their", "its", "one", "all", "will", "each", "more",
    "when", "there", "other", "so", "these", "may", "then", "if", "some",
    "such", "into", "only", "also", "two", "first", "than", "time", "our",
    "between", "new", "used", "using", "given", "where", "both", "same",
    // domain mass (the corpus is physics-ish web text)
    "energy", "force", "field", "particle", "wave", "quantum", "mass",
    "velocity", "momentum", "equation", "theory", "model", "physics",
    "gravity", "universe", "space", "relativity", "result", "results",
    "figure", "table", "section", "paper", "study", "show", "shown",
    "obtain", "obtained", "derive", "derived", "calculate", "assume",
    "consider", "therefore", "thus", "hence", "follows", "value", "values",
    "function", "constant", "system", "state", "light", "speed", "charge",
    "electron", "proton", "photon", "temperature", "pressure", "density")

  /** Embedded top-of-Zipf English bigram list (public knowledge). Rank
    * order matters: count(rank r) = BiTotalBase / (r+1). Contexts and
    * continuations deliberately overlap the unigram lexicon so fluent
    * English hits the bigram table and junk backs off to unigrams.
    */
  private val BigramLexicon: Seq[String] = Seq(
    "of the", "in the", "to the", "on the", "and the", "for the", "at the",
    "it is", "to be", "of a", "in a", "is a", "with the", "from the",
    "by the", "this is", "that the", "we have", "can be", "it was",
    "as a", "such as", "as the", "there is", "there are", "the same",
    "the first", "based on", "due to", "so that", "as well", "is the",
    "of this", "in this", "for a", "with a", "will be", "has been",
    "have been", "may be", "is not", "does not", "more than", "one of",
    "the energy", "the field", "the equation", "is given", "given by",
    "the mass", "the speed", "speed of", "of light", "the theory",
    "the model", "we obtain", "the result", "the results", "the system",
    "the state", "the wave", "the force", "the particle", "shown in",
    "the universe", "the value", "the function", "the quantum",
    "energy of", "field of", "mass of", "value of", "function of",
    "the time", "the space", "we find", "we can", "we use", "using the",
    "in order", "order to", "the following", "follows that", "it follows",
    "the case", "in which", "which is", "that is", "this paper",
    "the paper", "the study", "the two", "between the", "and a")

  val Dim: Int = 1 << 16

  /** FNV-1a over a lowercased token — stable, cheap. */
  @inline private[score] def hashToken(s: String): Int = {
    var h = 0x811c9dc5
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x01000193
      i += 1
    }
    math.floorMod(h, Dim)
  }

  /** Hashed bigram key: FNV over "u v" (the joined surface form). */
  @inline private[score] def hashBigram(u: String, v: String): Int =
    hashToken(u + " " + v)

  /** Absolute discount (standard Kneser-Ney value). */
  val Discount: Double = 0.75

  /** @param uni      hashed unigram counts
    * @param total    unigram count mass
    * @param bi       hashed bigram counts c(uv)
    * @param ctx      hashed per-context bigram mass c(u·)
    * @param ctxTypes hashed per-context distinct-continuation counts N1+(u·)
    */
  final case class Model(uni: Array[Float], total: Double,
                         bi: Array[Float], ctx: Array[Float],
                         ctxTypes: Array[Short]) extends Serializable {
    private val vocabMass = 0.5 * Dim

    /** Unigram log-probability with add-0.5 smoothing over the hashed
      * vocabulary (the backoff floor — never zero).
      */
    @inline def logProb(tok: String): Double = math.log(uniProb(tok))

    @inline private def uniProb(tok: String): Double =
      (uni(hashToken(tok)).toDouble + 0.5) / (total + vocabMass)

    /** Absolute-discount interpolated bigram probability: discounted ML
      * estimate plus the reserved mass D·N1+(u·)/c(u·) times the unigram.
      * Unseen context → pure unigram backoff. Strictly positive.
      */
    @inline def logProbBigram(prev: String, tok: String): Double = {
      val cu = ctx(hashToken(prev)).toDouble
      val pu = uniProb(tok)
      if (cu <= 0.0) math.log(pu)
      else {
        val cuv = bi(hashBigram(prev, tok)).toDouble
        val discounted = math.max(cuv - Discount, 0.0) / cu
        val lambda = Discount * ctxTypes(hashToken(prev)).toDouble / cu
        math.log(discounted + lambda * pu)
      }
    }

    /** Perplexity of the first `sampleLen` chars (reference analyzes
      * text[:5000], analysis/classifier.py:197). First token scores as a
      * unigram; each following token conditions on its predecessor.
      * Empty/whitespace text scores the defensive ceiling.
      */
    def score(text: String, sampleLen: Int = 5000): Double = {
      if (text == null) return MaxPpl
      val s = text.substring(0, math.min(text.length, sampleLen)).toLowerCase(java.util.Locale.ROOT)
      val toks = s.split("(?U)\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) return MaxPpl
      var lp = logProb(toks(0))
      var i = 1
      while (i < toks.length) { lp += logProbBigram(toks(i - 1), toks(i)); i += 1 }
      math.min(MaxPpl, math.exp(-lp / toks.length))
    }
  }

  /** Defensive perplexity ceiling — plays the role of the reference's
    * parse-failure default path (analysis/classifier.py:229-238).
    */
  val MaxPpl: Double = 1e6

  def buildModel(): Model = {
    val uni = new Array[Float](Dim)
    var total = 0.0
    Lexicon.zipWithIndex.foreach { case (w, r) =>
      val c = 1e6f / (r + 1)
      uni(hashToken(w)) += c
      total += c
    }
    val bi = new Array[Float](Dim)
    val ctx = new Array[Float](Dim)
    val ctxTypes = new Array[Short](Dim)
    BigramLexicon.zipWithIndex.foreach { case (g, r) =>
      val c = 5e5f / (r + 1)
      val sp = g.indexOf(' ')
      val (u, v) = (g.substring(0, sp), g.substring(sp + 1))
      bi(hashBigram(u, v)) += c
      ctx(hashToken(u)) += c
      ctxTypes(hashToken(u)) = (ctxTypes(hashToken(u)) + 1).toShort
    }
    Model(uni, total, bi, ctx, ctxTypes)
  }

  /** JVM-static instance: the model is built from code-embedded data, so
    * every executor can construct it lazily without a broadcast — which
    * lets the scorer run as a native expression INSIDE whole-stage codegen
    * (no mapPartitions fence, no Row serialization).
    */
  lazy val Shared: Model = buildModel()

  /** Static scoring entry for codegen. */
  def scoreShared(u: org.apache.spark.unsafe.types.UTF8String): Double =
    if (u == null) MaxPpl else Shared.score(u.toString)

  /** Perplexity of `text` as a native call (null text → null). */
  def scoreCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.Native(this, "scoreShared",
      org.apache.spark.sql.types.DoubleType, text)
}
