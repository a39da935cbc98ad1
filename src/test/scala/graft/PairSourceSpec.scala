package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphMetrics, Interactions, InteractionsReference => Ref}

/** The co-location family reads one anchor-keyed pair source
  * (`Interactions.coLocated`): interaction_pairs, empiric_edges,
  * empiric_isolated and `GraphMetrics.weightedEdges` equal, row for row,
  * the pair-row spellings they replaced (`InteractionsReference`: a
  * broadcast origin, double explodes, a pair distinct and a pair
  * count), on the test tables and on a hot cell past `GroupCap`.
  */
class PairSourceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Asserts each operator's rows equal its reference's, duplicates
    * included, and returns the isolated devices.
    */
  private def assertFamily(dir: String): Seq[String] = {
    val cases = Seq(
      ("interaction_pairs", Interactions.interactionPairs _, Ref.interactionPairs _),
      ("empiric_edges", Interactions.empiricEdges _, Ref.empiricEdges _),
      ("empiric_isolated", Interactions.empiricIsolated _, Ref.empiricIsolated _),
      ("weighted_edges", GraphMetrics.weightedEdges _, Ref.weightedEdges _))
    cases.map { case (name, got, want) =>
      val (g, w) = (rows(got(spark, dir)), rows(want(spark, dir)))
      assert(g.nonEmpty || name == "empiric_isolated", s"$dir $name: empty")
      assert(g == w, s"$dir $name: only new ${g.diff(w).take(5)}, only reference " +
        s"${w.diff(g).take(5)}")
      g
    }(2)
  }

  test("co-location family equals the pair-row spellings at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) assertFamily(dir)
  }

  test("co-location family on a hot cell past GroupCap: devices past the cap are isolated") {
    val over = Interactions.GroupCap + 7
    val isolated = assertFamily(EventsFixtures.hotCell(spark, over))
    assert(isolated == ((Interactions.GroupCap + 1) to over).map(i => s"[$i]").sorted,
      s"isolated: $isolated")
    val cap = Interactions.GroupCap.toLong
    val edges = Interactions.empiricEdges(spark, EventsFixtures.hotCell(spark, over))
    assert(edges.count() == cap * (cap - 1) / 2)
  }
}
