package graft.fixtures

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.WebDoc
import graft.oracle.RefOracle

/** Deterministic synthetic web-doc corpus (FIXTURES.md §1–§3).
  *
  * Every row is a pure function of (seed, i): `new Random(42 + i)` — any row
  * reproducible in isolation, generated DISTRIBUTED via spark.range → map
  * (never materialized on the driver, so `bench`-scale corpora are cheap).
  *
  * Ingredients per FIXTURES.md §2: Zipf(1.2) domain skew over 50 hosts,
  * 80/15/5 en/non-en/borderline language mix, boundary-exact length
  * spectrum, planted term densities straddling every gate threshold,
  * equation/reference/PII/boilerplate plants, HTML wrapper with entities +
  * script/style noise.
  */
object SynthCorpus {

  val Seed = 42L
  val NumHosts = 50

  /** splitmix64 finalizer — java.util.Random's first draws are heavily
    * correlated across sequential seeds (the LCG scramble is too weak:
    * measured, the first nextDouble of seeds 42..2041 never left [0, 0.8),
    * which silently erased the language mix and the Zipf host skew).
    * Scrambling the seed through splitmix64 restores per-row independence
    * while staying a pure function of (Seed, i).
    */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(stream: Long, i: Long): scala.util.Random =
    new scala.util.Random(mix(stream * 0x6C62272E07BB0142L + i))

  // Zipf(1.2) cumulative weights over hosts — one mega-host dominates.
  private val zipfCum: Array[Double] = {
    val w = (1 to NumHosts).map(r => 1.0 / math.pow(r, 1.2)).toArray
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }

  private def zipfHost(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCum, u)
    if (i >= 0) i else math.min(-i - 1, NumHosts - 1)
  }

  private val EnWords: Array[String] = Array(
    "the", "and", "of", "to", "a", "in", "that", "is", "for", "with",
    "we", "can", "from", "this", "result", "value", "system", "state",
    "using", "given", "where", "both", "same", "obtain", "derive",
    "calculate", "assume", "consider", "therefore", "thus", "follows",
    "show", "shown", "paper", "study", "section", "light", "speed")

  private val PhysicsPlants: Array[String] = Array(
    "energy", "force", "field", "particle", "wave", "quantum", "mass",
    "velocity", "momentum", "gravity", "universe", "space", "relativity",
    "theory", "model", "physics", "equation")

  private val JunkSyllables: Array[String] = Array(
    "zvq", "xrt", "plk", "wnm", "qrs", "vbz", "ktj", "drn", "glf", "hmp",
    "zupu", "kwex", "vrax", "nolq", "brix", "julz")

  private val LenSpectrum: Array[Int] = Array(
    0, 100, 299, 300, 301, 500, 999, 1000, 1001, 1500, 5000, 20000)

  private val PiiPlants: Array[String] = Array(
    "contact alice.smith@example.com for data",
    "call +1 (555) 123-4567 now",
    "server at 192.168.10.25 responded",
    "ssn 123-45-6789 leaked",
    "that idiot broke the detector")

  /** The raw body text for row i (pre-HTML, pre-clean). */
  def bodyFor(i: Long): String = {
    val rnd = rng(Seed, i)
    val langClass = { val d = rnd.nextDouble(); if (d < 0.80) 0 else if (d < 0.95) 1 else 2 }
    val targetLen = LenSpectrum(rnd.nextInt(LenSpectrum.length))
    if (targetLen == 0) return ""

    val sb = new StringBuilder
    val termPlantCount = Array(0, 1, 2, 3, 5, 20)(rnd.nextInt(6))
    var planted = 0
    var sentenceLen = 0
    while (sb.length < targetLen) {
      val w =
        if (langClass == 0) {
          if (planted < termPlantCount && rnd.nextDouble() < 0.15) {
            planted += 1; PhysicsPlants(rnd.nextInt(PhysicsPlants.length))
          } else EnWords(rnd.nextInt(EnWords.length))
        } else if (langClass == 1) JunkSyllables(rnd.nextInt(JunkSyllables.length))
        else { // borderline: mostly junk, a couple of stopwords
          if (rnd.nextDouble() < 0.08) { if (rnd.nextInt(2) == 0) "the" else "of" }
          else JunkSyllables(rnd.nextInt(JunkSyllables.length))
        }
      sb.append(w)
      sentenceLen += 1
      if (sentenceLen >= 8 + rnd.nextInt(10)) { sb.append(". "); sentenceLen = 0 }
      else sb.append(' ')

      // plants (English docs only — mirrors real web text being the target)
      if (langClass == 0) {
        val p = rnd.nextDouble()
        if (p < 0.02) sb.append("$E = mc^2$ ")
        else if (p < 0.03) sb.append("\\alpha decay at 3.14 MeV ")
        else if (p < 0.045) sb.append("[1] (2023) ")
        else if (p < 0.05) sb.append(PiiPlants(rnd.nextInt(PiiPlants.length))).append(' ')
        else if (p < 0.055) sb.append("ﬁnite ﬂow α partial ∂ ")
        else if (p < 0.06) sb.append("héllo wörld non-ascii ")
        // derivation/solution blocks for the derived-dataset extractors
        // (FIXTURES.md §2 "Equation/derivation blocks")
        else if (p < 0.07) sb.append(
          "Starting with the energy equation for the field we obtain the mass result. ")
        else if (p < 0.08) sb.append(
          "Using the force equation and the field terms we obtain the velocity of the particle. ")
        else if (p < 0.09) sb.append(
          "Problem: calculate the energy of the particle. Solution: We have E = m c^2. Therefore the energy is E = 42 J. ")
        // difficulty-classifier plants (E17): advanced (>=1 advanced term)
        // and intermediate (>=2 distinct indicators) blocks exist in the
        // corpus so the q39 distribution oracle exercises all branches
        else if (p < 0.095) sb.append(
          "the lagrangian and the hamiltonian tensor formulation of the field ")
        else if (p < 0.10) sb.append(
          "quantum mechanics and statistical mechanics govern the wave equation under thermodynamics ")
        // concept-difficulty plants (v2 builder): an equation carrying an
        // advanced-math term and a principle carrying an advanced-physics
        // term, so conceptDifficulty's intermediate/advanced branches occur
        else if (p < 0.105) sb.append(
          "H = tensor(T) + flux of the field density ")
        else if (p < 0.11) sb.append(
          "conservation of momentum under relativity holds. ")
      }
    }
    sb.toString.take(targetLen + 200) // bounded; boundary lens stay exact-ish
  }

  /** Deterministic HTML wrapper (FIXTURES.md §2 "HTML wrapper"). */
  def htmlFor(i: Long, body: String): String = {
    val rnd = rng(Seed * 31, i)
    val noise = rnd.nextInt(3)
    val paras = body.grouped(400).map(p => s"<p>$p</p>").mkString("\n")
    s"""<html><head><title>doc $i</title>
       |<style>body { color: #000; }</style>
       |<script>var x = 1 &amp;&amp; 2;</script>
       |</head><body>
       |<!-- crawler comment $i -->
       |${if (noise == 1) "<div>42</div>" else ""}
       |$paras
       |${if (noise == 2) "<p>Page 3</p>" else ""}
       |<p>caf&eacute; &amp; r&#233;sum&#101;</p>
       |</body></html>""".stripMargin
  }

  def urlFor(i: Long): String = {
    val rnd = rng(Seed * 17, i)
    val h = zipfHost(rnd.nextDouble())
    val host = if (h % 7 == 3) s"vixra$h.org" else s"host$h.example.com"
    s"https://$host/page/$i"
  }

  def tsFor(i: Long): Timestamp =
    new Timestamp(1735689600000L + (i % 86400) * 1000L) // 2025-01-01 + i sec

  def docFor(i: Long): WebDoc = {
    val body = bodyFor(i)
    WebDoc(urlFor(i), tsFor(i), htmlFor(i, body).getBytes("UTF-8"), "", "")
  }

  /** Distributed docs_raw generation. */
  def docsRaw(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[WebDoc] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(i => docFor(i))
  }

  /** Distributed oracle labels (FIXTURES.md §3) — same source of truth. */
  def labels(spark: SparkSession, n: Long, partitions: Int = 32): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val d = docFor(i)
      RefOracle.assess(d.url, d.html)
    }.toDF()
  }

  /** Materialize the extracted+cleaned fixture corpus (url, text) once
    * under target/ and return its ABSOLUTE path. The derive queries
    * (q30/q31) read this as a pure parquet scan instead of running the
    * generator inside the measured query (round-1 verdict: generator cost
    * dominated their bench time), and the q31 DuckDB oracle reads the same
    * files by absolute path. Content is deterministic (seeded), so a
    * pre-existing _SUCCESS-marked directory is reused as-is.
    */
  def materializedCorpus(spark: SparkSession, n: Long = 400,
                         partitions: Int = 8): String = {
    val dir = new java.io.File(s"target/graft_fixture/corpus_$n").getAbsolutePath
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      docsRaw(spark, n, partitions).toDF()
        .withColumn("text", graft.extract.Clean.basicClean(
          graft.extract.HtmlText.extractCol(col("html"))))
        .select("url", "text")
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Materialize the SCORED fixture corpus (Pipeline.score output columns
    * needed by the derived-dataset builders) once under target/; pure-scan
    * input for the v2/v3 benchmark-builder queries (q36/q37).
    */
  def materializedScored(spark: SparkSession, n: Long = 400,
                         partitions: Int = 8): String = {
    val dir = new java.io.File(s"target/graft_fixture/scored_$n").getAbsolutePath
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      graft.Pipeline.score(docsRaw(spark, n, partitions).toDF(), spark)
        .select("url", "text", "sophistication", "avg_stage2", "recommendation",
          "overall_score", "keep", "issues")
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }
}
