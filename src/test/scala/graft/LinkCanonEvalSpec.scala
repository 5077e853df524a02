package graft

import graft.canon.ConnectedComponents
import graft.corpus.Corpus
import graft.eval.Eval
import graft.extract.Extract
import graft.functions.Ranks
import graft.link.Linking
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class LinkCanonEvalSpec extends SparkSuite {
  import spark.implicits._

  private lazy val mentions =
    Extract.mentions(Extract.docsToSentences(Corpus.fromDocuments(spark, sfDir))).cache()

  private def surfaceCounts =
    mentions.groupBy(col("surface").as("alias")).agg(count(lit(1)).as("freq"))

  test("alias dictionary: ids dense, frequency-ordered, deterministic tie-break") {
    val dict = Linking.buildAliasDict(surfaceCounts).collect().sortBy(_.entity_id)
    assert(dict.nonEmpty)
    assert(dict.map(_.entity_id).toSeq == dict.indices.map(_.toLong))
    // non-increasing freq; ties broken by alias asc
    dict.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.freq > b.freq || (a.freq == b.freq && a.alias < b.alias))
      case _ =>
    }
    assert(math.abs(dict.map(_.prob).sum - 1.0) < 1e-9)
  }

  test("alias dictionary: the sorted pass equals a single-partition window, on 1 and 50 partitions") {
    // the dictionary and the Ranks primitive under it, against references
    // that rank in one task: row_number, the running sum and the total over
    // windows with no partition spec
    val byFreq = Window.orderBy(col("freq").desc, col("alias").asc)
    def reference(counts: DataFrame) = counts
      .withColumn("entity_id", row_number().over(byFreq) - 1L)
      .withColumn("prob", col("freq") / sum("freq").over(Window.partitionBy()))
      .select("alias", "entity_id", "freq", "prob")
    def ranksReference(counts: DataFrame) = counts.select("alias", "freq")
      .withColumn("rn", row_number().over(byFreq).cast("long"))
      .withColumn("cum", sum("freq").over(byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum("freq").over(Window.partitionBy()))
    def rows(df: DataFrame, key: String) = df.orderBy(key).collect().toSeq
    val cached = spark.range(0, 10000, 1, 4)
      .select(concat(lit("a"), col("id")).as("alias"), (col("id") % 7 + 1).as("freq")).cache()
    val inputs = Seq(
      "empty" -> surfaceCounts.limit(0),
      "all tied" -> (1 to 40).map(i => (s"alias$i", 3L)).toDF("alias", "freq"),
      "five rows" -> Seq(("b", 2L), ("a", 2L), ("c", 5L), ("d", 1L), ("e", 2L)).toDF("alias", "freq"),
      "sf0.001 surfaces" -> surfaceCounts,
      "10,000 cached rows" -> cached)
    // at 50 partitions with AQE's coalescing off most range partitions of
    // the small inputs are empty, and stay empty
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = conf.map(spark.conf.getOption)
    try {
      for (partitions <- Seq(1, 50); (name, counts) <- inputs) {
        spark.conf.set(conf(0), partitions.toLong)
        spark.conf.set(conf(1), false)
        val got = rows(Linking.buildAliasDict(counts).toDF(), "entity_id")
        assert(got == rows(reference(counts), "entity_id"), s"$name at $partitions partitions")
        assert(got.isEmpty == (name == "empty"), s"$name at $partitions partitions")
        val (ranked, rankedRows) = Ranks.globalRank(counts.select("alias", "freq"),
          Seq(col("freq").desc, col("alias").asc), col("freq"), "rn", "cum", "total")
        assert(rows(ranked, "rn") == rows(ranksReference(counts), "rn"), s"Ranks on $name at $partitions partitions")
        assert(rankedRows == got.size, s"Ranks' row count on $name at $partitions partitions")
      }
    } finally {
      conf.zip(saved).foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      cached.unpersist()
    }
  }

  test("broadcast link join == salted join, with OOV default for misses") {
    // top-10 dictionary so rarer surfaces genuinely miss → OOV
    val dict = Linking.buildAliasDict(surfaceCounts).filter(_.entity_id < 10)
      .select(col("alias"), col("entity_id")).cache()
    def linked(small: Boolean) =
      Linking.lookup(mentions.toDF(), "surface", dict, "entity_id", small)
        .withColumn("entity_id", coalesce(col("entity_id"), lit(Linking.OovEntityId)))
    val plain = sortedRows(linked(small = true))
    assert(plain == sortedRows(linked(small = false)), "salting must not change join semantics")
    assert(plain.size == mentions.count(), "left join must preserve all mentions")
    assert(plain.exists(_.getAs[Long]("entity_id") == Linking.OovEntityId),
      "rare surfaces must fall back to OOV")
  }

  test("connected components: chain, clique, singletons, two components") {
    // chain 1-2-3-4, clique 10-11-12, isolated self-loop 20
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 20L)).toDF("src", "dst")
    val got = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("connected components: an empty edge set runs one job and no round, with and without ckptDir") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (ckptDir <- Seq(None, Some(Files.createTempDirectory("graft-cc-empty").toString))) {
      val (labels, jobs) = jobsDuring(ConnectedComponents.run(edges, ckptDir = ckptDir))
      assert(jobs.size == 1, s"expected the edge checkpoint's one job, got ${jobs.size} (ckptDir $ckptDir)")
      assert(labels.columns.toSeq == Seq("id", "component") && labels.collect().isEmpty, s"ckptDir $ckptDir")
    }
  }

  test("connected components: adversarial 3000-node chain converges in O(log d) rounds") {
    // Plain hash-min needs Θ(diameter) = 3000 rounds here and would silently
    // return unconverged labels at any practical maxIter. The fused pointer
    // shortcut doubles label-pointer depth per round, so a tight 24-round
    // budget (≈2·log₂ 3000) both converges AND pins the complexity class —
    // if a regression drops the shortcut, this test fails, not just slows.
    val n = 3000
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val got = ConnectedComponents.run(edges, maxIter = 24)
      .as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.forall(_ == 1L))
  }

  test("P/R/F1 aggregator matches hand-computed official-scorer semantics") {
    // confusion: A: tp=2, pred A 3 times, label A 2 times; B: tp=1 of 2 labels;
    // Other excluded from macro/micro
    val pairs = Seq(
      ("A", "A"), ("A", "A"), ("A", "B"),      // A predicted 3x, correct 2x
      ("B", "B"),                              // B correct once
      ("Other", "B"),                          // B missed
      ("Other", "Other"), ("A", "Other")).toDS()
    val stats = Eval.evaluate(pairs)
    // A: P=2/4? no — pred A count = 4 (includes ("A","Other")); recompute:
    // predA=4, labelA=2, tpA=2 → P_A=0.5, R_A=1.0, F_A=2/3
    // predB=1, labelB=3, tpB=1 → P_B=1.0, R_B=1/3, F_B=0.5
    assert(math.abs(stats.macroP - (0.5 + 1.0) / 2) < 1e-9)
    assert(math.abs(stats.macroR - (1.0 + 1.0 / 3) / 2) < 1e-9)
    assert(math.abs(stats.macroF1 - (2.0 / 3 + 0.5) / 2) < 1e-9)
    // micro over A,B: tp=3, pred=5, label=5
    assert(math.abs(stats.microP - 3.0 / 5) < 1e-9)
    assert(math.abs(stats.microR - 3.0 / 5) < 1e-9)
    assert(math.abs(stats.accuracy - 4.0 / 7) < 1e-9)
    assert(stats.n == 7)
  }

  test("aggregator is partition-order invariant") {
    val pairs = (1 to 200).map(i =>
      (if (i % 3 == 0) "A" else "B", if (i % 2 == 0) "A" else "B"))
    val s1 = Eval.evaluate(pairs.toDS().repartition(1))
    val s8 = Eval.evaluate(pairs.toDS().repartition(8))
    assert(s1 == s8)
  }
}
