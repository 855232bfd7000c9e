package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.scrub.PiiScrub

/** The registered SQL functions: pii_scrub's semantics equal the chained
  * regexp form; codegen path exercised; null-safe; every registered name
  * equals the library's Column function.
  */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  GraftFunctions.register(spark)

  /** The battery as Spark's own `regexp_replace` chain: the reference the
    * native expression is compared against.
    */
  private def scrubChain(c: Column): Column = {
    val pii = PiiScrub.Battery.foldLeft(c) { case (acc, (p, r)) => regexp_replace(acc, p, r) }
    regexp_replace(pii, PiiScrub.ToxicPattern, "<TOXIC>")
  }

  private val inputs = Seq(
    "mail me at john.doe+x@sub.example.co.uk today",
    "server 10.0.255.7 and 192.168.1.1 up",
    "call +1 (555) 123-4567 or 555-867-5309",
    "card 4111111111111111 and ssn 123-45-6789",
    "Idiot and MORON both", "clean text", "",
    "a@b.com1x@c.org", "a@b.co@c.de", "@x.org a@ @@ x@@y.com me@192.168.1.1",
    "1234567890123 12345678901234567890 555 12-3 (55)1234",
    "\u212Aill yourself \u0130diot HaTe")

  test("pii_scrub expression equals the regexp_replace chain") {
    val df = inputs.toDF("t")
    val rows = df.select(
      call_function("pii_scrub", col("t")).as("native"),
      PiiScrub.scrub(col("t")).as("column"),
      scrubChain(col("t")).as("chain")).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(2), s"<${r.getString(2)}>")
      assert(r.getString(1) == r.getString(2), s"<${r.getString(2)}>")
    }
  }

  test("pii_scrub works via SQL and handles NULL") {
    Seq(("a@b.co", 1)).toDF("t", "i").createOrReplaceTempView("scrub_in")
    val got = spark.sql("SELECT pii_scrub(t) AS s, pii_scrub(NULL) AS n FROM scrub_in").head()
    assert(got.getString(0) == "<EMAIL>")
    assert(got.isNullAt(1))
  }

  test("register() restores a dropped graft function (idempotence probe is the registry, not a conf)") {
    // round-4 used a session-conf marker: after the first call register()
    // was a permanent no-op, so DROP TEMPORARY FUNCTION could never be
    // undone. The probe is now "are ALL graft names registered?".
    spark.sql("DROP TEMPORARY FUNCTION graft_simhash")
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    assert(!reg.functionExists(FunctionIdentifier("graft_simhash")))
    GraftFunctions.register(spark)
    assert(reg.functionExists(FunctionIdentifier("graft_simhash")))
    val got = spark.sql("SELECT graft_simhash('restored') AS h").head()
    assert(!got.isNullAt(0))
  }

  test("pii_scrub stays inside whole-stage codegen") {
    // a local Seq becomes LocalTableScan (never codegen'd) — use a range
    // scan, which is, so the assertion isolates the expression itself
    val df = spark.range(5)
      .select(call_function("pii_scrub",
        concat(lit("mail a@b.co #"), col("id").cast("string"))).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a WholeStageCodegen span in the compact form;
    // the registered name resolves to Spark's StaticInvoke of the kernel
    assert(plan.contains("*(1) Project [static_invoke(graft.scrub.PiiScrub.scrubUtf8("),
      s"no codegen span in:\n$plan")
    assert(df.collect().forall(_.getString(0).startsWith("mail <EMAIL> #")))
  }

  test("an unaliased call names its column after the SQL call") {
    Seq(("a@b.co", "<p>x</p>".getBytes("UTF-8"))).toDF("text", "html")
      .createOrReplaceTempView("named_in")
    val calls = GraftFunctions.Functions.map { case (name, _) =>
      s"$name(${if (name == "graft_extract_clean") "html" else "text"})"
    }
    val df = spark.sql(calls.mkString("SELECT ", ", ", " FROM named_in"))
    assert(df.columns.toSeq == calls)
    assert(df.head().getString(0) == "<EMAIL>")
  }

  test("every registered name equals its library Column function, NULL included") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").union(Seq(null.asInstanceOf[String], "").toDF("text"))
    val n = docs.count()
    // graft_extract_clean reads html bytes; every other name reads text
    def arg(name: String) =
      if (name == "graft_extract_clean") "CAST(text AS BINARY)" else "text"
    assert(GraftFunctions.Functions.map(_._1).toSet == Set("pii_scrub",
      "graft_token_stats", "graft_pattern_counts", "graft_basic_clean",
      "graft_perplexity", "graft_simhash", "graft_extract_clean"))
    GraftFunctions.Functions.foreach { case (name, f) =>
      val rows = docs.select(expr(s"$name(${arg(name)})").as("sql"),
        f(expr(arg(name))).as("lib")).collect()
      assert(rows.length == n, name)
      rows.foreach(r => assert(r.get(0) == r.get(1), s"$name: ${r.get(0)} != ${r.get(1)}"))
      assert(rows.count(_.isNullAt(0)) == 1, s"$name: NULL in gives NULL out")
    }
  }
}
