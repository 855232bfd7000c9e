package curbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("counters see only the measured job groups") {
    val c = Counters.install(spark)
    Counters.measured(spark, c, "one")(spark.range(1000).count())
    val perCount = c.get("one").jobs
    spark.range(1000).count() // no group: never counted
    val (_, wall) = Counters.measured(spark, c, "g1") {
      spark.range(1000).count(); spark.range(1000).count()
    }
    spark.range(1000).count()
    val a = c.get("g1")
    assert(perCount >= 1 && a.jobs == 2 * perCount && a.tasks >= 2 && wall > 0)
    assert(c.get("never-opened").jobs == 0)
  }

  test("a child span's jobs are its own; the parent's self time excludes it") {
    val c = Counters.install(spark)
    Counters.measured(spark, c, "one")(spark.range(100).count())
    val j = c.get("one").jobs
    val tr = new Tracer(spark, c, "t")
    val (_, parent) = tr.span("parent") {
      spark.range(100).count()
      tr.span("child")(spark.range(100).count())
      spark.range(100).count()
    }
    tr.close()
    val child = tr.children(parent).head
    assert(parent.acc.jobs == 2 * j && child.acc.jobs == j)
    assert(tr.totalAcc(parent).jobs == 3 * j)
    assert(math.abs(tr.selfS(parent) - (parent.wallS - child.wallS)) < 1e-9)
    assert(child.queries.nonEmpty)
    assert(tr.toJson.contains("\"name\":\"child\""))
  }
}
