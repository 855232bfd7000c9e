package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lang.LangId

/** The native langid call decodes only the first 500 code points of each
  * row; it must predict exactly what `Shared.predict` predicts on the
  * whole decoded text.
  */
class LangIdSpec extends SparkTestBase {

  private val Astral = "😀" // one code point, two UTF-16 chars
  private val English = "the cat and the dog of the house is in that garden for us with "

  test("withLangNgram equals predict on the whole text at the 500-char edges") {
    val texts = Seq(null, "", "a", "ab", "the", "😀", English * 20,
      // a surrogate pair straddling UTF-16 char 500, and one just inside
      "x" * 499 + Astral + English * 5,
      "x" * 498 + Astral + English * 5,
      Astral * 260 + English * 3,
      "die der und das ist " * 40)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(texts.map(Row(_)), 2),
      StructType(Seq(StructField("t", StringType))))
    val got = LangId.withLangNgram(df, "t", "lang", spark).select("t", "lang").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    texts.foreach { t =>
      assert(got(t) == LangId.Shared.predict(t), s"on ${Option(t).map(_.take(30)).orNull}")
    }
    assert(got(null) == "und" && got("ab") == "und")
    assert(texts.map(got).toSet.size > 2, "the cases must not all predict alike")
  }

  test("a malformed prefix decodes the whole text, as the String form does") {
    val bytes = Array(0xe2.toByte, 0x82.toByte) ++ (English * 10).getBytes("UTF-8")
    val s = UTF8String.fromBytes(bytes)
    assert(LangId.predictUtf8(s).toString == LangId.Shared.predict(s.toString))
  }
}
