package graft

import graft.queries.DocQueries
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The k-gram queries (q69 decontamination, q71 repetition filter, q78
  * Bloom-prefiltered decontamination) against a plain-Scala recomputation
  * over the collected `documents` table: tokens are `split(" ", -1)`,
  * k-grams are `sliding(k)` rejoined with " ", with the same planted
  * every-13th (text+text) and every-97th (benchmark slice) rules.
  */
class DocQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the committed seed-42 sf0.001 tables (checked against its SHA256SUMS by
  // perfbench); the expected rows are recomputed from the table itself
  private val dir = "perfbench/data/sf0.001"

  private lazy val docs: Seq[(Long, String, String)] = {
    import spark.implicits._
    DocQueries.documents(spark, dir)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect().toSeq.filter(_._3 != null)
  }

  private def grams(toks: Array[String], k: Int): Set[String] =
    toks.sliding(k).map(_.mkString(" ")).toSet

  test("q71 repetition filter equals a plain-Scala distinct-3-gram recomputation") {
    import spark.implicits._
    val want = docs.flatMap { case (id, source, text) =>
      val t = if (id % 13 == 0) s"$text $text" else text
      val toks = t.split(" ", -1)
      if (toks.length < 3) None
      else {
        val n3 = toks.length - 2L
        val d3 = grams(toks, 3).size.toLong
        val r = BigDecimal(d3.toDouble / n3)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (r < 0.9) Some((id, source, n3, d3, r)) else None
      }
    }.sortBy(_._1)
    val got = DocQueries.repetitionFilter(spark, dir)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(want.nonEmpty, "the planted text+text docs must flag")
    assert(got == want)
  }

  test("q69 and q78 decontamination equal a plain-Scala shared-8-gram recomputation") {
    import spark.implicits._
    val bench = docs.filter(_._1 % 97 == 0).flatMap { case (_, _, text) =>
      val btoks = text.split(" ", -1).slice(5, 25)
      if (btoks.length >= 8) grams(btoks, 8) else Set.empty[String]
    }.toSet
    val want = docs.flatMap { case (id, source, text) =>
      val toks = text.split(" ", -1)
      val shared = if (toks.length >= 8) (grams(toks, 8) & bench).size.toLong else 0L
      if (shared > 0) Some((id, source, shared)) else None
    }.sortBy(_._1)
    val q69 = DocQueries.decontaminate(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    val q78 = DocQueries.decontaminateBloom(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(want.nonEmpty, "the planted benchmark slices must match their source docs")
    assert(q69 == want)
    assert(q78 == q69)
  }
}
