package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.curate.Curate
import graft.dedup.Dedup
import graft.rules.Heuristics

/** Stage-by-stage wall-clock breakdown of the q52 chain at sf0.1 —
  * run on demand: sbt "testOnly graft.CurateProbe -- -n graft.Probe".
  */
class CurateProbe extends SparkTestBase {

  private def t(label: String)(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    info(f"$label%-42s $s%7.2f s")
    s
  }

  test("pair-generation sub-stage budget at sf0.1", ProbeTag) {
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val toks = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    t("toks count")(toks.count())
    t("toks localCheckpoint") { toks.localCheckpoint() }
    val toksCk = toks.localCheckpoint()
    val wTok = Window.partitionBy("tok")
    val wDoc = Window.partitionBy("id").orderBy("df", "tok")
    def posts(src: org.apache.spark.sql.DataFrame) = src
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("tok"))
      .withColumn("df", count(lit(1)).over(wTok))
      .filter(col("df") <= 10000)
    t("posts count (from checkpoint)")(posts(toksCk).count())
    val prefix = posts(toksCk)
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <= col("sz") - ceil(lit(0.799999) * col("sz")) + lit(1))
      .select("id", "sz", "tok")
    t("prefix count")(prefix.count())
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id") &&
          col("y.sz").cast("double") >= lit(0.799999) * col("x.sz") &&
          col("x.sz").cast("double") >= lit(0.799999) * col("y.sz"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    t("cand count")(cand.count())
    val verified = cand
      .join(toksCk.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(toksCk.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= 0.8)
    t("verified count")(verified.count())
    t("pairs from raw toks (no checkpoint)") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.8)
        .count()
    }
  }

  test("chain budget on the scaling corpus (long docs)", ProbeTag) {
    val dir = "/tmp/graft_scaling_corpus_20000"
    assume(new java.io.File(dir + "/_SUCCESS").exists(), "corpus not materialized")
    graft.functions.GraftFunctions.register(spark)
    val raw = spark.read.parquet(dir)
    t("raw count")(raw.count())
    val extracted = raw
      .withColumn("text", call_function("graft_extract_clean", col("html")))
      .drop("html")
    t("extract count")(extracted.count())
    t("doc bytes") {
      info(extracted.select(avg(length(col("text"))),
        max(length(col("text")))).head().toString)
    }
    val g = graft.functions.ComputeOnce(extracted.select(col("url"), col("text")),
      "__g", graft.rules.Heuristics.gopherStats(col("text")))
    t("gopher count")(g.filter(col("__g.gopher_keep")).count())
    val toks = graft.functions.ComputeOnce(
      extracted.select(col("url").as("id"), col("text")),
      "sh", Dedup.shingles(col("text"), 3)).select("id", "sh")
    t("toks count")(toks.count())
    t("postings count") {
      info(toks.select(explode(col("sh"))).count().toString)
    }
    t("pairs count") {
      info(Dedup.ngramJaccardPairs(extracted, "url", "text", n = 3,
        minJaccard = 0.8).count().toString)
    }
    t("curationLog count") {
      Curate.curationLog(extracted, "url", "text").count()
    }
  }

  test("q52 stage budget at sf0.1", ProbeTag) {
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val id = col("doc_id"); val text = col("text")
    val g = graft.functions.ComputeOnce(docs.select(id, text), "__g",
      Heuristics.gopherStats(text))
    t("gopher filter count")(g.filter(col("__g.gopher_keep")).count())
    val gopherKept = g.filter(col("__g.gopher_keep"))
    val exactLosers = Dedup.exactLosers(gopherKept, "doc_id", "text").select(id)
    t("exact losers count")(exactLosers.count())
    val exactKept = gopherKept.select(id, text)
      .join(exactLosers, Seq("doc_id"), "left_anti")
    t("exactKept count")(exactKept.count())
    val pairs = Dedup.ngramJaccardPairs(exactKept, "doc_id", "text",
      n = 3, minJaccard = 0.8)
    t("pairs count")(pairs.count())
    t("components (eager at construction)") {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }
    t("curationLog construction (incl components)") {
      Curate.curationLog(docs, "doc_id", "text")
    }
    t("curationLog full count") {
      Curate.curationLog(docs, "doc_id", "text").count()
    }
    t("curationLog materialize=true count") {
      Curate.curationLog(docs, "doc_id", "text", materialize = true)
        .count()
    }
  }
}
