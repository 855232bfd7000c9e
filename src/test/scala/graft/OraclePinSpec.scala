package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract's surface: the 45 query names and the md5 of
  * every DuckDB oracle string. A rewrite of SparkEntry's SQL builders must
  * leave each string byte-identical; a deliberate oracle change updates its
  * hash here, in the same commit. The fixture directory's absolute path
  * depends on the checkout, so it is replaced by `<fixture>` before hashing.
  */
class OraclePinSpec extends AnyFunSuite {

  private val Queries = Set(
    "q00_score_label", "q01_lineitem_agg", "q02_topk_orders",
    "q03_region_customers", "q10_langid_stopword", "q11_text_stats",
    "q12_source_stats", "q13_dedup_exact", "q14_token_count", "q15_scrub",
    "q16_minlen_buckets", "q17_events_daily", "q18_top_docs_per_source",
    "q20_ngram_jaccard", "q21_minhash_sigs", "q22_simhash", "q23_ann_brute",
    "q24_ann_lsh", "q25_cos_neardup", "q26_quality_score", "q27_fingerprint",
    "q30_training_examples", "q31_benchmark_items", "q32_salted_stats",
    "q33_media_features", "q34_blob_stats", "q35_sessions",
    "q36_benchmark_v2", "q37_benchmark_v3", "q38_training_gate",
    "q39_training_dist", "q40_ann_ivf", "q41_benchmark_v2_dist",
    "q42_benchmark_v3_dist", "q43_rl_training_v2", "q44_rl_training_v3",
    "q45_ug_benchmark", "q46_ug_training", "q47_rl_v2_gates",
    "q48_rl_v3_gates", "q49_ug_deriv_gates", "q50_neardup_components",
    "q51_gopher_stats", "q52_curation_chain", "q53_curation_stages")

  private val OracleMd5 = Map(
    "q01_lineitem_agg" -> "3667f3357c0c194730e607d9f6479676",
    "q02_topk_orders" -> "26bebe112338c3a2f2215a70662fe39e",
    "q03_region_customers" -> "751d30916c93f523b75adbd2a379e510",
    "q10_langid_stopword" -> "280f221fe992c4e58ca7b386e6f2234a",
    "q11_text_stats" -> "cbec1f7c3b4450a3e6aa91fc020a7088",
    "q12_source_stats" -> "771802a682d48500f50556baac9fdfce",
    "q13_dedup_exact" -> "73819c41ca3f21b43c83a7bee3c0e031",
    "q14_token_count" -> "f34e3ce8a6d9c5b20ad18a25bdec9015",
    "q15_scrub" -> "688e6779b0d92245c1e8ac154660239a",
    "q16_minlen_buckets" -> "aa4c6b3644e02768ad72f0f23be9bf26",
    "q17_events_daily" -> "b8fa9af92c72a25dfbb9ac2d1f30fdd8",
    "q18_top_docs_per_source" -> "02954eda2740aac11cadbde21b11b1c9",
    "q20_ngram_jaccard" -> "a95f5fae77b918b32b678670afe39935",
    "q23_ann_brute" -> "b51b0ab52d3442ea24b0a7e3ee4356f4",
    "q24_ann_lsh" -> "ef9d6e033c65ff276a9354e002e59225",
    "q25_cos_neardup" -> "69660df592ec612ac65ed32d1073f2ac",
    "q26_quality_score" -> "4b2739eebc8c054f5b225f4caca087c4",
    "q27_fingerprint" -> "e2db0aa6d15cfb7bd035c5e93702deb7",
    "q31_benchmark_items" -> "895cd30ec473b977851f5b69807c1a58",
    "q32_salted_stats" -> "3b9f80010e4e87fffd8cfc7dad5188ed",
    "q33_media_features" -> "a7bbc9b216fbf26d76f1a12cefbba8ce",
    "q34_blob_stats" -> "9f403fcaae116ada150a139c00403880",
    "q35_sessions" -> "459e6066f526f2c3855c60c54ee3faa7",
    "q38_training_gate" -> "21f09828d6c7ea7791c37c76fb17d3f2",
    "q39_training_dist" -> "3c736d75ad35773c771c9d2717f6c167",
    "q40_ann_ivf" -> "e5c6b4bfacad9d800b1ab7166073f18e",
    "q41_benchmark_v2_dist" -> "393376f7b5e10f282d2deb0bdabeda60",
    "q42_benchmark_v3_dist" -> "25e19003991b70d0ad65f2afd526f2c6",
    "q45_ug_benchmark" -> "4b4a408a1d7c6690ce6f0dff826ce218",
    "q47_rl_v2_gates" -> "5ea1e97503c862aa1ca76bdef0afb386",
    "q48_rl_v3_gates" -> "61cf43a474cecc4f11fa0277bfb96e37",
    "q49_ug_deriv_gates" -> "ba8c97212a9568f9c665625bb35d30ef",
    "q50_neardup_components" -> "676128f9a21f8a322deeaf9433eca9ab",
    "q51_gopher_stats" -> "561652ccdeae3a23c5d5839b1b40d5a9",
    "q52_curation_chain" -> "895fba69f649f999519f2ca1be81525a",
    "q53_curation_stages" -> "45cb63305bdc982346cb80f0cb077cf8")

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("the 45 query names are unchanged") {
    assert(SparkEntry.queries.keySet == Queries)
  }

  test("every oracle SQL string is byte-identical to its pinned form") {
    val fixture = new java.io.File("target/graft_fixture").getAbsolutePath
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet == OracleMd5.keySet)
    val changed = OracleMd5.toSeq.sorted.collect {
      case (k, want) if md5(oracles(k).replace(fixture, "<fixture>")) != want => k
    }
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.mkString(", ")}")
  }
}
