package graft

import org.apache.spark.sql.functions._
import graft.scrub.PiiScrub

/** C13 PII/toxicity scrub golden vectors (north_rule mandate). */
class ScrubSpec extends SparkTestBase {
  import spark.implicits._

  private def runCol(in: String): String =
    Seq(in).toDF("t").select(PiiScrub.scrub(col("t")).as("r")).head().getString(0)

  val vectors: Seq[(String, String)] = Seq(
    ("mail me at john.doe+x@sub.example.co.uk today",
      "mail me at <EMAIL> today"),
    ("server 10.0.255.7 and 192.168.1.1 up", "server <IP> and <IP> up"),
    ("call +1 (555) 123-4567 or 555-867-5309", "call <PHONE> or <PHONE>"),
    ("card 4111111111111111 charged", "card <CARD> charged"),
    ("ssn 123-45-6789 leaked", "ssn <SSN> leaked"),
    ("what an idiot move", "what an <TOXIC> move"),
    ("Idiot and MORON both", "<TOXIC> and <TOXIC> both"),
    ("no pii here at all", "no pii here at all"),
    ("", ""),
    // email anchoring: a match holds one '@' and starts at the local-part
    // run before it, clipped to the previous match's end
    ("a@b.com1x@c.org", "<EMAIL><EMAIL>"),
    ("a@b.co@c.de", "<EMAIL>@c.de"),
    ("@x.org and a@ and @@", "@x.org and a@ and @@"),
    ("x@@y.com", "x@@y.com"),
    ("@a.bc@", "@a.bc@"),
    ("write to bob@ex.io, or (ann@b.cc)", "write to <EMAIL>, or (<EMAIL>)"),
    ("x.y-z+w%q_r@host-1.example.org.", "<EMAIL>."),
    ("first@a.bc second@d.ef", "<EMAIL> <EMAIL>"),
    ("john@example.c", "john@example.c"),
    ("me@192.168.1.1 here", "me@<IP> here")
  )

  test("scrub golden vectors — Column and String forms agree") {
    for ((in, want) <- vectors) {
      assert(PiiScrub.scrubStr(in) == want, s"Str <$in>")
      assert(PiiScrub.scrubKernel(in) == want, s"kernel <$in>")
      assert(runCol(in) == want, s"Col <$in>")
    }
  }

  test("scrub never reveals the original PII substrings") {
    val in = "a@b.co 1.2.3.4 123-45-6789"
    val out = PiiScrub.scrubKernel(in)
    assert(!out.contains("a@b.co") && !out.contains("1.2.3.4"))
  }

  test("scrub is idempotent") {
    for ((in, _) <- vectors) {
      val once = PiiScrub.scrubKernel(in)
      assert(PiiScrub.scrubKernel(once) == once, s"<$in>")
    }
  }
}
