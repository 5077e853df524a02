package graft

import graft.annotate.Annotator
import graft.corpus.Corpus
import graft.extract.{Extract, Sdp}
import graft.pipeline.KgPipeline
import graft.score.SignatureScorer

/** End-to-end extraction over the sf0.001 corpus:
  *  - span-sequence invariant (input_hint): explode→process must not disturb
  *    the per-doc (kind, text, media_ref, order) sequence;
  *  - differential P/R gate: the distributed pipeline must reproduce the
  *    single-node reference-semantics extraction exactly (P/R ≥ 0.95 required;
  *    we assert equality), independent of partitioning.
  */
class ExtractPipelineSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Corpus.fromDocuments(spark, sfDir)

  test("corpus has interleaved text+media spans with strictly increasing offsets") {
    val ds = docs.collect()
    assert(ds.nonEmpty)
    assert(ds.exists(_.spans.exists(_.kind != "text")))
    ds.foreach { d =>
      assert(d.spans.map(_.offset).toSeq == d.spans.indices.toSeq)
      d.spans.foreach { s =>
        if (s.kind == "text") assert(s.media_ref.isEmpty)
        else assert(s.text.isEmpty && s.media_ref.startsWith("m://"))
      }
    }
  }

  test("span-sequence invariant survives explode → reassemble") {
    val exploded = docs.flatMap(d =>
      d.spans.zipWithIndex.map { case (s, i) => (d.doc_id, i, s.kind, s.text, s.media_ref) })
    val reassembled = exploded
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val spans = it.toArray.sortBy(_._2).map(r => (r._3, r._4, r._5))
        (id, spans)
      }
      .collect()
      .toMap
    docs.collect().foreach { d =>
      val expect = d.spans.map(s => (s.kind, s.text, s.media_ref)).toSeq
      assert(reassembled(d.doc_id).toSeq == expect, s"span sequence broken for ${d.doc_id}")
    }
  }

  test("distributed pipeline == single-node reference semantics (P/R gate)") {
    // single-node: the same pure row logic applied sequentially
    val expected = docs.collect().flatMap { d =>
      d.spans.zipWithIndex.collect { case (s, idx) if s.kind == "text" && s.text.nonEmpty =>
        val (toks, chunks) = Annotator.annotate(Annotator.tokenize(s.text))
        Sdp.sentenceToSdps(toks, chunks).map { case (x, y, p) =>
          val path = Sdp.postProcess(p)
          (d.doc_id, idx, toks(x).text.toLowerCase, toks(y).text.toLowerCase,
            path.map(st => (st.word, st.dep, st.pos)).toSeq)
        }.filter(_._5.nonEmpty)
      }.flatten
    }.toSet

    val got = Extract.candidates(Extract.docsToSentences(docs).repartition(7))
      .collect()
      .map(c => (c.doc_id, c.span_idx, c.x, c.y,
        c.path.map(st => (st.word, st.dep, st.pos)).toSeq))
      .toSet

    assert(expected.nonEmpty, "no candidates extracted at all")
    val inter = (expected & got).size
    val p = inter.toDouble / got.size
    val r = inter.toDouble / expected.size
    assert(p >= 0.95 && r >= 0.95, s"P=$p R=$r")
    assert(got == expected, "expected exact distributed/single-node agreement")
  }

  test("fused single-stage path == composed pipeline (with and without whitelist)") {
    val composed = Extract.triples(Extract.candidates(Extract.docsToSentences(docs))).toDF()
    val fused = Extract.triplesFused(rawDocs).toDF()
    assert(sortedRows(fused) == sortedRows(composed))
    assert(sortedRows(Extract.whitelisted(fused, 3)) == sortedRows(Extract.whitelisted(composed, 3)))
  }

  test("a null text is a doc without text spans: fused == composed, and run completes") {
    val dir = TestSpark.nullTextSfDir(sfDir)
    assert(spark.read.parquet(s"$dir/documents.parquet").filter(TestSpark.nullTextIds).count() > 0)
    val fused = sortedRows(Extract.triplesFused(rawDocs(dir)).toDF())
    val composed = Extract.triples(Extract.candidates(Extract.docsToSentences(Corpus.fromDocuments(spark, dir))))
    assert(fused == sortedRows(composed.toDF()))
    // the nulled docs contribute nothing: the same triples as dropping them
    assert(fused == sortedRows(Extract.triplesFused(rawDocs.filter(!TestSpark.nullTextIds)).toDF()))
    assert(fused.nonEmpty)
    val runDir = java.nio.file.Files.createTempDirectory("graft-nulltext").toString
    assert(KgPipeline.run(spark, dir, runDir).count() > 0)
  }

  test("the pair cap: fused == composed at caps 1, 2, 4 and 8, and the row count rises with the cap") {
    // the default cap (64) cannot bind on 12-token windows, so small caps
    // exercise it, on the first 200 docs
    val first = rawDocs.orderBy("doc_id").limit(200).cache()
    val sentences = Extract.docsToSentences(first.map { case (id, text) => Corpus.buildDoc(id, text) })
    val rows = Seq(1, 2, 4, 8).map { cap =>
      val fused = sortedRows(Extract.triplesFused(first, maxPairsPerSentence = cap).toDF())
      val composed = Extract.triples(Extract.candidates(sentences, maxPairsPerSentence = cap)).toDF()
      assert(fused == sortedRows(composed), s"cap $cap")
      fused.size
    }
    first.unpersist()
    assert(rows == Seq(863, 1390, 2071, 2401))
  }

  test("in-memory pipeline: salted degradation path is row-equal to broadcast") {
    // the 100 TB story: when the dictionary outgrows a driver-safe
    // broadcast, the gate+link+canonicalize joins degrade to
    // Linking.saltedLeftJoin — the two configurations must emit identical
    // canonical triples (the broadcast form is the benchmarked default), on
    // sf0.001 and on the plural-variant fixture, where CC has edges
    for (dir <- Seq(sfDir, pluralSfDir)) {
      val viaBroadcast = sortedRows(KgPipeline.canonicalTriplesInMemory(rawDocs(dir)))
      val viaSalted = sortedRows(KgPipeline.canonicalTriplesInMemory(rawDocs(dir), broadcastMaxDictRows = 0L))
      assert(viaSalted == viaBroadcast, dir)
      assert(viaBroadcast.nonEmpty, dir)
    }
  }

  test("whitelist gate + scorer emit deterministic triples") {
    val cands = Extract.candidates(Extract.docsToSentences(docs)).cache()
    val kept = Extract.whitelisted(Extract.triples(cands).toDF(), minCount = 3)
    val t1 = sortedRows(kept)
    val t2 = sortedRows(Extract.whitelisted(Extract.triples(cands.repartition(5)).toDF(), minCount = 3))
    assert(t1 == t2, "triples must be partitioning-invariant")
    assert(t1.nonEmpty)
    assert(t1.forall { r =>
      val score = r.getAs[Double]("score")
      r.getAs[String]("pred").nonEmpty && score >= 0.5 && score <= 1.0
    })
    // whitelisted structures only — every emitted triple carries the
    // signature of a candidate path seen at least 3 times
    val sigCounts = cands
      .map(c => SignatureScorer.signatureKey(c.path)).groupByKey(identity)
      .count().collect().toMap
    t1.foreach(r => assert(sigCounts(r.getAs[String]("sig")) >= 3))
    cands.unpersist()
  }

  test("whitelisted keeps exactly the rows whose signature occurs minCount times, duplicates included") {
    // signatures occur once (a), twice (b) and three times (c, one row twice);
    // sig sits mid-row so the gate must also keep the column order
    val in = Seq(
      ("s1", "a", 0.5), ("s2", "b", 0.6), ("s3", "b", 0.7),
      ("s4", "c", 0.8), ("s4", "c", 0.8), ("s5", "c", 0.9)).toDF("subj", "sig", "score")
    val rows = sortedRows(in)
    val counts = rows.groupBy(_.getString(1)).map { case (sig, rs) => sig -> rs.size }
    for (minCount <- 1L to 4L) {
      val kept = Extract.whitelisted(in, minCount)
      assert(kept.columns.toSeq == in.columns.toSeq)
      val (expectKept, expectDropped) = rows.partition(r => counts(r.getString(1)) >= minCount)
      val dropped = sortedRows(in.exceptAll(kept))
      assert(sortedRows(kept) == expectKept, s"kept at minCount=$minCount")
      assert(dropped == expectDropped, s"dropped at minCount=$minCount")
      assert(kept.count() + dropped.size == rows.size, s"kept + dropped = in at minCount=$minCount")
    }
    val keptAt3 = sortedRows(Extract.whitelisted(in, 3)).map(_.getString(0))
    assert(keptAt3 == Seq("s4", "s4", "s5"), "a duplicate row survives as a duplicate")
  }
}
