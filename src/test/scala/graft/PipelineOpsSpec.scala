package graft

import graft.corpus.Corpus
import graft.dedup.Dedup
import graft.multimodal.Media
import graft.similarity.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text").cache()
  private lazy val emb =
    spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("exact dedup marks exactly one keeper per digest group") {
    // inject real duplicates: doc ids shifted by 10000 with identical text
    val withDups = docs.union(docs.limit(50).select(col("doc_id") + 10000, col("text")))
    val out = Dedup.exact(withDups).cache()
    val groups = out.groupBy("digest")
      .agg(count(lit(1)).as("n"), sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
    assert(groups.filter(col("keepers") =!= 1).count() == 0)
    assert(out.filter(!col("keep")).count() == 50)
  }

  test("minhash: identical docs share signatures; jaccard of dup pair = 1") {
    val d = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "x y z w q r s t")).toDF("doc_id", "text")
    val sig = Dedup.minhash(d).cache()
    val s1 = sig.filter($"doc_id" === 1).select("perm", "minhash").collect().toSet
    val s2 = sig.filter($"doc_id" === 2).select("perm", "minhash").collect().toSet
    val s3 = sig.filter($"doc_id" === 3).select("perm", "minhash").collect().toSet
    assert(s1 == s2 && s1 != s3)
    val pairs = Dedup.lshCandidates(sig)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val j = Dedup.jaccard(pairs, d).collect().head
    assert(j.getAs[Long]("jaccard_ppm") == 1000000L)
  }

  test("simhash: near-identical docs have close hashes, disjoint docs differ") {
    val d = Seq((1L, "a b c d e f g h a b"), (2L, "a b c d e f g h a z"),
      (3L, "q r s t u v w x y z2")).toDF("doc_id", "text")
    val out = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(out(1L), out(2L)) < hamming(out(1L), out(3L)))
  }

  test("IVF search achieves high recall vs brute force on probed queries") {
    val corpus = emb.select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10).select($"vec_id".as("q_id"), $"embedding")
    val exact = Similarity.cosineTopK(corpus, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfSearch(corpus, queries, 5, nCentroids = 16, nprobe = 8)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall") // nprobe=8 of 16 buckets
  }

  test("MLlib LSH top-k achieves reasonable recall vs brute force") {
    val corpus = emb.select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 10).select($"vec_id".as("q_id"), $"embedding")
    val exact = Similarity.cosineTopK(corpus, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(corpus, queries, 5, numHashTables = 8)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("cosineTopK is deterministic across partitionings") {
    val corpus = emb.select("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 3).select($"vec_id".as("q_id"), $"embedding")
    val a = sortedRows(Similarity.cosineTopK(corpus.repartition(1), queries, 5))
    val b = sortedRows(Similarity.cosineTopK(corpus.repartition(13), queries, 5))
    assert(a == b)
  }

  test("language-ID predicts marker language deterministically") {
    val d = Seq(
      (1L, "the cat of the house is a friend"),
      (2L, "der hund ist mit der katze und das haus"),
      (3L, "zz yy xx ww")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "und")
  }

  test("quality metrics are exact integers with sane ranges") {
    val out = TextAnalysis.quality(docs).cache()
    assert(out.filter($"n_tokens" <= 0).count() == 0)
    assert(out.filter($"uniq_ppm" > 1000000 || $"uniq_ppm" < 0).count() == 0)
    assert(out.filter($"stopword_ppm" > 1000000).count() == 0)
  }

  test("fingerprint is order-sensitive but partition-invariant") {
    val d = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) != fp(2L), "token order must change the fingerprint")
    val f1 = sortedRows(TextAnalysis.fingerprint(docs.repartition(1)))
    val f9 = sortedRows(TextAnalysis.fingerprint(docs.repartition(9)))
    assert(f1 == f9)
  }

  test("media cells: payload plumbing, batched decode, frame sampling") {
    val corpus = Corpus.fromDocuments(spark, sfDir)
    val cells = Media.mediaCells(corpus).cache()
    assert(cells.count() > 0)
    // media spans only, refs preserved
    assert(cells.filter($"kind" === "text").count() == 0)
    val feats = Media.decodeFeatures(cells, batchSize = 7).cache()
    assert(feats.count() == cells.count(), "decode must be 1:1")
    val f = feats.collect()
    assert(f.forall(_.feature.length == 8))
    // real decoders: images parse to pixel dimensions, audio to a PCM
    // duration, video to MP4 container metadata (round-5: true mvhd
    // duration + tkhd presentation size) — format-aware, not stub values
    assert(f.filter(_.kind == "image").forall(x => x.width >= 8 && x.height >= 8))
    assert(f.forall(x => (x.duration_ms > 0) == (x.kind == "audio" || x.kind == "video")))
    assert(f.filter(_.kind == "audio").forall(_.width == 0))
    assert(f.filter(_.kind == "video").forall(x => x.width >= 160 && x.height >= 120))
    // determinism across batch sizes and partitionings
    val cols = Seq("doc_id", "span_idx", "width", "height", "feature").map(col)
    val feats2 = Media.decodeFeatures(cells.repartition(5), batchSize = 64)
    assert(sortedRows(feats2.select(cols: _*)) == sortedRows(feats.select(cols: _*)))
    val frames = Media.frameSample(feats)
    assert(frames.count() > 0)
    assert(frames.groupBy("doc_id", "span_idx").count().filter($"count" < 1).count() == 0)
  }
}
