package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{lit, when, xxhash64}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ContactMatrixReference => Ref, Interactions, Scaling}

/** The contact matrix, scaled sizes and infected counts assembled on the
  * driver equal the Spark plans they replaced (`ContactMatrixReference`):
  * same schema, same rows in the same order. Relations the old plans
  * left unordered (observed contacts, infected per block) are compared
  * sorted.
  */
class ContactMatrixSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def sortedRows(df: DataFrame): Seq[String] = rows(df).map(_.toString).sorted

  private def assertSame(what: String, got: DataFrame, want: DataFrame, ordered: Boolean): Unit = {
    assert(got.schema == want.schema, s"$what schema")
    if (ordered) assert(rows(got) == rows(want), what)
    else assert(sortedRows(got) == sortedRows(want), what)
  }

  private def assertMatrixSame(dir: String): Unit = {
    assertSame(s"total_vs_observed $dir", Interactions.totalVsObserved(spark, dir),
      Ref.totalVsObserved(spark, dir), ordered = true)
    assertSame(s"observed_contacts $dir", Interactions.observedContacts(spark, dir),
      Ref.observedContacts(spark, dir), ordered = false)
    assertSame(s"scaled_sizes $dir", Scaling.scaledSizesExact(spark, dir),
      Ref.scaledSizesExact(spark, dir), ordered = true)
  }

  test("contact matrix: the driver assembly equals the Spark plans at sf0.001 and sf0.01") {
    assertMatrixSame("/root/testdata/sf0.001")
    assertMatrixSame("/root/testdata/sf0.01")
  }

  // Cells A, B, H, Z; origin = the first event, 10-minute buckets.
  //  - d1, d2 (home A) and d3 (home B) meet at A in bucket 0: C(A,A) = 1,
  //    C(A,B) = 2; d1 and d3 meet again at Z in bucket 5 (not recounted).
  //  - d4's home H meets nobody: its row is zero-filled.
  //  - Z is visited by d1 and d3 and is nobody's home.
  //  - the null device is at A in bucket 0 and with d3 at B in bucket 1;
  //    its home is A. It counts in no size and makes no pair.
  //  - per-cell devices A 3, B 1, H 1, Z 2 (total 7): remainders A 5,
  //    B 4, H 4, Z 1 with a deficit of 2, so A and B (B < H) get a unit.
  private val events: Seq[(java.lang.Long, String, Int)] = Seq(
    (1L, "A", 1), (1L, "A", 20), (1L, "A", 40), (1L, "Z", 55),
    (2L, "A", 2), (2L, "A", 30),
    (3L, "B", 0), (3L, "B", 15), (3L, "B", 25), (3L, "A", 3), (3L, "Z", 51),
    (4L, "H", 5), (4L, "H", 45),
    (null, "A", 4), (null, "A", 35), (null, "B", 15)
  )

  /** An events table of (device, cell, minute after 2024-01-01) rows. */
  private def eventsDir(events: Seq[(java.lang.Long, String, Int)]): String = {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val dir = java.nio.file.Files.createTempDirectory("graft-contacts").toString
    events.zipWithIndex
      .map { case ((u, c, m), i) => (i.toLong, new Timestamp(t0 + m * 60000L), u, c) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val fixture: String = eventsDir(events)

  test("contact matrix: hand fixture — remainder tie, zero-filled home, a = b pair, homeless cell, null device") {
    assertMatrixSame(fixture)
    val m = rows(Interactions.totalVsObserved(spark, fixture))
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(m.keySet.map(_._1) == Set("A", "B", "H"), "Z is nobody's home")
    assert(m(("A", "A")) == (4L, 2L), "the a = b pair counts twice")
    assert(m(("A", "B")) == (2L, 2L) && m(("B", "A")) == (2L, 2L))
    assert(Seq("A", "B", "H").forall(c => m(("H", c))._2 == 0L), "H is zero-filled")
    val scaled = rows(Scaling.scaledSizesExact(spark, fixture))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(scaled == Seq(("A", 3L, 4286L), ("B", 1L, 1429L), ("H", 1L, 1428L), ("Z", 2L, 2857L)))
  }

  // Cells A, B, C, Z, P, Q; the origin is d3's event at minute 0.
  //  - d1, d2 (home A), d3 (home B) and d4 (home C) meet at A in bucket
  //    0: d1's partners have three homes, and (d1, d2) is an a = b pair.
  //  - d1 and d3 meet again at Z in buckets 2 and 3 and at P in bucket
  //    5: C(A, B) counts the pair once, with (d2, d3): M(A, B) = 2.
  //  - devices 1000-2025 are at P in bucket 5 with d1 and d3: 1,028
  //    devices, past GroupCap, so the group keeps the 1,024 smallest
  //    ids. Those divisible by 3 are at Q in bucket 10 twice, so their
  //    home is Q and the capped group's partners have homes P and Q.
  private val crowd: Seq[(java.lang.Long, String, Int)] =
    Seq[(java.lang.Long, String, Int)](
      (1L, "A", 1), (1L, "A", 2), (1L, "A", 3), (1L, "A", 4),
      (1L, "Z", 21), (1L, "Z", 31), (1L, "P", 51),
      (2L, "A", 5), (2L, "A", 6),
      (3L, "B", 0), (3L, "B", 11), (3L, "B", 12), (3L, "B", 13),
      (3L, "A", 7), (3L, "Z", 22), (3L, "Z", 32), (3L, "P", 52),
      (4L, "C", 40), (4L, "C", 41), (4L, "A", 8)) ++
      (1000L to 2025L).flatMap { k =>
        (java.lang.Long.valueOf(k), "P", 50) +:
          (if (k % 3 == 0) Seq((java.lang.Long.valueOf(k), "Q", 100),
            (java.lang.Long.valueOf(k), "Q", 101)) else Nil)
      }

  test("contact matrix: hand fixture — pair met in several groups, partners of several homes, capped group") {
    assert(Interactions.GroupCap == 1024, "the crowd is sized for a cap of 1024")
    val dir = eventsDir(crowd)
    assertMatrixSame(dir)
    val m = rows(Interactions.totalVsObserved(spark, dir))
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(m(("A", "B")) == 2L && m(("B", "A")) == 2L, "(d1, d3) counts once")
    assert(m(("A", "A")) == 2L && m(("A", "C")) == 2L && m(("B", "C")) == 1L)
    // the capped group keeps d1, d3 and devices 1000-2021
    val kept = (1000L to 2021L).map(k => if (k % 3 == 0) "Q" else "P")
    val nq = kept.count(_ == "Q").toLong
    val np = kept.size - nq
    assert(m(("A", "P")) == np && m(("B", "Q")) == nq)
    assert(m(("P", "P")) == np * (np - 1) && m(("P", "Q")) == np * nq)
    // the Q group of bucket 10 holds every Q device, capped or not
    val allQ = (1000L to 2025L).count(_ % 3 == 0).toLong
    assert(m(("Q", "Q")) == allQ * (allQ - 1))
  }

  test("contact counts: a coder collision throws, naming both cells") {
    // A and B are each visited by several devices, and d3 visits both
    val collide: Column => Column =
      c => when(c === "A" || c === "B", lit(7L)).otherwise(xxhash64(c))
    val e = intercept[IllegalStateException](Interactions.contactCounts(spark, fixture, collide))
    assert(e.getMessage.contains("'A'") && e.getMessage.contains("'B'"), e.getMessage)
    val toNull = intercept[IllegalStateException](
      Interactions.contactCounts(spark, fixture, c => when(c =!= "H", xxhash64(c))))
    assert(toNull.getMessage.contains("'H'"), toNull.getMessage)
  }

  // Cells A, B, C and a null cell, all in bucket 0 (minutes 0-9):
  //  - d1 has two events at B and two at C: a tie, and B < C by name
  //    while the coder below puts C's code first; its home is B;
  //  - d2 has one event at A and one at the null cell: the null cell
  //    ties first, so d2's home is null and d2 makes no pair;
  //  - d3 (home C) meets d1 at C, d4 (home B) meets d1 at B, and d2
  //    meets d3 at A.
  private val ties: Seq[(java.lang.Long, String, Int)] = Seq(
    (1L, "B", 0), (1L, "B", 1), (1L, "C", 2), (1L, "C", 3),
    (2L, "A", 4), (2L, null, 5),
    (3L, "C", 6), (3L, "C", 7), (3L, "A", 8),
    (4L, "B", 9))

  test("contact counts: home ties follow the cell names, not their codes; a null cell ties first") {
    val dir = eventsDir(ties)
    val reversed: Column => Column =
      c => when(c === "B", lit(2L)).when(c === "C", lit(1L)).otherwise(xxhash64(c))
    val counts = Interactions.contactCounts(spark, dir, reversed)
    val homes = rows(Interactions.sizes(spark, dir)).map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(homes == Map("B" -> 2L, "C" -> 1L, (null: String) -> 1L), "homeCells")
    assert(counts.homeSizes.toMap == homes)
    assert(counts.pairs == Map(("B", "C") -> 1L, ("B", "B") -> 1L))
    assertSame("total_vs_observed, reversed codes", Interactions.contactMatrix(spark, counts),
      Ref.totalVsObserved(spark, dir), ordered = true)
    assertMatrixSame(dir)
  }

  test("contact counts: a device past DeviceCap keeps its home and cells, makes no contact, and is counted") {
    // d5 is at A once in every bucket from 0 to DeviceCap: one row past
    // the cap. Uncapped, it would meet d1, d2, d3 at A in bucket 0.
    val d5 = (0 to Interactions.DeviceCap).map(b =>
      (java.lang.Long.valueOf(5L), "A", b * 10))
    val full = Interactions.contactCounts(spark, fixture)
    val capped = Interactions.contactCounts(spark, eventsDir(events ++ d5))
    assert(full.cappedDevices == 0L && capped.cappedDevices == 1L)
    assert(capped.pairs == full.pairs, "d5 meets nobody")
    assert(capped.homeSizes.toMap == full.homeSizes.toMap.updated("A", 3L), "d5's home is A")
    assert(capped.cellDevices.toMap == full.cellDevices.toMap.updated("A", 4L))
  }

  test("infected per block: the driver count equals the Spark join") {
    import spark.implicits._
    val adj = (0L until 30L).map { i =>
      i -> (0L until 30L).filter(j => j != i && math.abs(j - i) <= 2).toArray
    }.toMap
    val status = graft.sim.Seir.runMany(spark, adj, beta = 1.0, sigma = 1.0, gamma = 0.2,
      initialInfected = Seq(0L), tmax = 50.0, seeds = 0 until 8)
    // node 29 has no block, node 3 has two
    val blocks = ((0L until 29L).map(i => (i, if (i < 15) "X" else "Y")) :+ (3L, "W"))
      .toDF("nodeId", "block")
    assertSame("infected_per_block", graft.sim.Seir.infectedPerBlock(status, blocks),
      Ref.infectedPerBlock(status, blocks), ordered = false)
  }
}
