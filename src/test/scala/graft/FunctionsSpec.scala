package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.scrub.PiiScrub

/** Native Catalyst expression (PiiScrubExpr): semantics equal the chained
  * regexp form; codegen path exercised; null-safe.
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
    // the "*(n)" prefix marks a WholeStageCodegen span in the compact form
    assert(plan.contains("*(1) Project [pii_scrub"), s"no codegen span in:\n$plan")
    assert(df.collect().forall(_.getString(0).startsWith("mail <EMAIL> #")))
  }
}
