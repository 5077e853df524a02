package graft

import graft.canon.ConnectedComponents
import graft.pipeline.KgPipeline
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Test}
import org.scalacheck.Prop.forAll
import org.scalacheck.rng.Seed

/** Connected components on both sides of the broadcast bound: the
  * driver-side union-find (`ConnectedComponents.onDriver`) must give exactly
  * the labels of the iterative DataFrame CC (`ConnectedComponents.run`),
  * compared as multisets of (id, component) rows.
  */
class CcDifferentialSpec extends SparkSuite {
  import spark.implicits._

  private def labels(df: DataFrame): Seq[(Long, Long)] =
    df.select("id", "component").as[(Long, Long)].collect().toSeq.sorted

  /** (driver labels, DataFrame labels) of one undirected edge list. */
  private def bothPaths(edges: Seq[(Long, Long)], maxIter: Int = 50): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val df = edges.toDF("src", "dst")
    (labels(ConnectedComponents.onDriver(df)), labels(ConnectedComponents.run(df, maxIter)))
  }

  /** Random undirected edge lists over a vertex pool that mixes small and
    * far-apart (also negative) ids: parallel edges in both orientations,
    * self-loops and disconnected parts, and the empty list.
    */
  private val graphs: Gen[Seq[(Long, Long)]] = for {
    pool <- Gen.nonEmptyListOf(Gen.oneOf(Gen.chooseNum(0L, 30L), Gen.chooseNum(-1L << 40, 1L << 40)))
    vertex = Gen.oneOf(pool)
    edges <- Gen.listOf(Gen.zip(vertex, vertex))
    doubled <- Gen.someOf(edges)
    loops <- Gen.listOf(vertex.map(v => (v, v)))
  } yield edges ++ doubled.map(_.swap) ++ loops

  test("driver labels equal DataFrame CC's on random graphs") {
    val params = Test.Parameters.default.withMinSuccessfulTests(15).withMaxSize(24)
      .withInitialSeed(Seed(20261020L))
    var seen = Seq.empty[Seq[(Long, Long)]]
    val result = Test.check(params, forAll(graphs) { edges =>
      seen :+= edges
      val (driver, frame) = bothPaths(edges)
      driver == frame
    })
    assert(result.passed, s"driver and DataFrame labels differ: ${result.status}")
    // the named shapes occur among the generated graphs
    assert(seen.exists(_.isEmpty), "no empty edge set")
    assert(seen.exists(_.exists { case (a, b) => a == b }), "no self-loop")
    assert(seen.exists(es => es.map { case (a, b) => (a min b, a max b) }.distinct.size < es.size),
      "no parallel edge")
    assert(seen.exists(es => bothPaths(es)._1.map(_._2).distinct.size > 1), "no graph with two components")
  }

  test("driver labels equal DataFrame CC's on the 3,000-node chain") {
    val n = 3000
    val (driver, frame) = bothPaths((1 until n).map(i => (i.toLong, (i + 1).toLong)), maxIter = 24)
    assert(driver.size == n && driver.forall(_._2 == 1L))
    assert(driver == frame)
  }

  test("canonicalize gives the same entity table at both bounds on a 100k-alias dictionary") {
    // plural chains (x, xs, xss) over ASCII, Latin-1, CJK and non-BMP
    // (surrogate pair) surfaces, under a scrambled entity-id order so a
    // component's minimum id is not its first alias
    val bases = 60000
    val aliases = (0 until bases).flatMap { k =>
      val base = Seq(s"item$k", s"größe$k", s"日本語$k", s"𝔸𝔹$k")(k % 4)
      Seq(base) ++ (if (k % 2 == 0) Seq(base + "s") else Nil) ++ (if (k % 6 == 0) Seq(base + "ss") else Nil)
    }
    val n = aliases.size.toLong
    assert(n >= 100000 && n % 7919 != 0)
    val dict = aliases.zipWithIndex.map { case (a, i) => (a, i * 7919L % n) }
      .toDF("alias", "entity_id").repartition(4)
    val (driver, frame) = (KgPipeline.canonicalize(dict, None, small = true),
      KgPipeline.canonicalize(dict, None, small = false))
    assert(driver.schema == frame.schema)
    val rows = sortedRows(driver)
    assert(rows.size == n && rows == sortedRows(frame))
    // every plural chain shares its minimum entity id; the rest keep their own
    val ids = dict.as[(String, Long)].collect().toMap
    val canon = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    for (k <- Seq(0, 1, 2, 3, 6, 7, 8, 9)) {
      val base = Seq(s"item$k", s"größe$k", s"日本語$k", s"𝔸𝔹$k")(k % 4)
      val chain = Seq(base, base + "s", base + "ss").filter(ids.contains)
      assert(chain.map(canon).distinct == Seq(chain.map(ids).min), chain)
    }
    assert(rows.count(r => r.getLong(1) != r.getLong(2)) > 0)
  }
}
