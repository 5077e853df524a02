package graft.queries

import graft.dedup.Dedup
import graft.functions.Portable._
import graft.functions.Ranks
import graft.similarity.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Training-data pipeline operators (dedup / similarity / text analysis /
  * sampling / streaming-shaped window agg) with DuckDB oracles.
  *
  * Portable-determinism conventions (see Portable, Similarity.dotScaled):
  * md5-derived integer hashes, ppm integer ratios, scaled-integer dots.
  */
object PipelineQueries {

  private def h30Sql(e: String) = s"(${md5numSql(e)} % 1000000007)"

  // DuckDB 3-gram shingles (distinct) — matches Dedup.shingles(n=3)
  private val shinglesSql =
    """SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle FROM (
      |SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
      |(SELECT 1) one, LATERAL (SELECT unnest(generate_series(1, greatest(len(d.toks) - 2, 1))) AS i) g
      |WHERE len(array_to_string(toks[i:i+2], ' ')) > 0""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup by content digest
    "q13_exact_dedup" -> ((s, dir) => Dedup.exact(docs(s, dir))),

    // MinHash signatures (8 perms over 3-gram shingles)
    "q14_minhash" -> ((s, dir) => Dedup.minhash(docs(s, dir))),

    // LSH candidates + exact jaccard verify. The shingle table feeds FOUR
    // consumers (minhash, both sides of the intersection join, sizes) — it is
    // computed and persisted once, not re-derived from text per stage
    "q15_lsh_jaccard" -> ((s, dir) => {
      val sh = Dedup.shingles(docs(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.jaccardFromShingles(
        Dedup.lshCandidates(Dedup.minhashFromShingles(sh)), sh)
    }),

    // 16-bit SimHash
    "q16_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),

    // language-ID heuristic
    "q17_langid" -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),

    // quality scoring
    "q18_quality" -> ((s, dir) => TextAnalysis.quality(docs(s, dir))),

    // token counting (whitespace + BPE-ish regex)
    "q19_token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(docs(s, dir))),

    // position-weighted fingerprint
    "q20_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir))),

    // brute-force cosine top-5, queries = vec_id < 5
    "q21_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(emb.select("vec_id", "embedding"), firstFive(emb), k = 5)
    }),

    // IVF coarse assignment (16 centroids)
    "q22_ivf_assign" -> ((s, dir) =>
      Similarity.ivfAssign(t(s, dir, "embeddings").select("vec_id", "embedding"), 16)),

    // IVF probed search (rows-only: recall vs brute force is spec-tested)
    "q23_ivf_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      Similarity.ivfSearch(emb, firstFive(emb), k = 5, nCentroids = 16, nprobe = 4)
    }),

    // MLlib LSH ANN (rows-only: recall vs brute force is spec-tested)
    "q38_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.select("vec_id", "embedding"), firstFive(emb), k = 5)
    }),

    // embedding near-dup pairs within label blocks (threshold tuned to the
    // synthetic embedding distribution: within-label cosines top out ~0.47)
    "q24_embedding_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDup(
        t(s, dir, "embeddings").select("vec_id", "label", "embedding"), 350000000L)),

    // scale path of q24: label × sign-band double blocking bounds hot-label
    // blocks; deterministic banding keeps it oracle-exact
    "q39_blocked_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDupBlocked(
        t(s, dir, "embeddings").select("vec_id", "label", "embedding"), 350000000L)),

    // streaming-shaped tumbling-window agg (batch equivalent of the
    // Structured Streaming query in streaming/; exact int sums)
    "q25_window_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(floor(value * 1000000D) as bigint)")).as("value_sum_micro"))),

    // O1: seeded global shuffle + positional split — the reference's
    // shuffle-then-slice (shuffle_wiki.py:14-20) as a keyed-hash permutation
    // (partition-stable, unlike orderBy(rand(seed))) with a scale-safe rank
    "q45_seeded_shuffle" -> ((s, dir) =>
      graft.sample.Shuffles.seededSplit(
        docs(s, dir).select(col("doc_id")), "doc_id", seed = 42L)
        .select("doc_id", "pos", "fold")),

    // deterministic train/valid split by md5 bucket (O3)
    "q26_split" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(md5num(col("doc_id").cast("string")) % 10 < 8, lit("train"))
          .otherwise(lit("valid")).as("fold"))),

    // O5: deterministic weighted sampling via inverse-CDF range join —
    // per-doc pseudo-random r_ppm lands in a token's cumulative-freq bucket.
    // The CDF is the running sum of one sorted pass, which also returns the
    // total (no single-partition window); cum_lo falls out of the same sum
    // ((cum−freq) = lag(cum_hi))
    "q27_weighted_sample" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val freq = tok.groupBy("token").agg(count(lit(1)).as("freq"))
      val vocab = Ranks.globalRank(
        freq, Seq(col("freq").desc, col("token").asc), col("freq"), "__rn", "cum", "total")
        ._1.select(col("token").as("sampled"),
          expr("(cum - freq) * 1000000L div total").as("cum_lo"),
          expr("cum * 1000000L div total").as("cum_hi"))
      docs(s, dir)
        .select(col("doc_id"),
          (md5num(col("doc_id").cast("string")) % 1000000L).as("r"))
        .join(broadcast(vocab), col("r") >= col("cum_lo") && col("r") < col("cum_hi"))
        .select("doc_id", "r", "sampled")
    }))

  val oracles: Map[String, String] = Map(
    "q13_exact_dedup" ->
      s"""SELECT doc_id, digest, doc_id = min(doc_id) OVER (PARTITION BY digest) AS keep
         |FROM (SELECT doc_id, ${md5numSql("text")} AS digest FROM documents)""".stripMargin
        .replace("\n", " "),
    "q14_minhash" ->
      s"""WITH sh AS ($shinglesSql),
         |perms AS (SELECT unnest(range(0, 8)) AS perm)
         |SELECT doc_id, perm,
         |min((${h30Sql("shingle")} * (37 + perm * 101) + (17 + perm * 257)) % 1000000007) AS minhash
         |FROM sh, perms GROUP BY doc_id, perm""".stripMargin.replace("\n", " "),
    "q15_lsh_jaccard" ->
      s"""WITH sh AS ($shinglesSql),
         |perms AS (SELECT unnest(range(0, 8)) AS perm),
         |sig AS (SELECT doc_id, perm,
         |  min((${h30Sql("shingle")} * (37 + perm * 101) + (17 + perm * 257)) % 1000000007) AS minhash
         |  FROM sh, perms GROUP BY doc_id, perm),
         |banded AS (SELECT doc_id, perm // 2 AS band,
         |  ${md5numSql("string_agg(perm || ':' || minhash, ',' ORDER BY perm || ':' || minhash)")} AS band_hash
         |  FROM sig GROUP BY doc_id, perm // 2),
         |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM banded x JOIN banded y ON x.band = y.band AND x.band_hash = y.band_hash
         |  WHERE x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT p.a, p.b, count(*) AS n_inter
         |  FROM pairs p JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b
         |  AND sa.shingle = sb.shingle GROUP BY p.a, p.b)
         |SELECT p.a, p.b, coalesce(i.n_inter, 0) AS n_inter,
         |  za.n_sh + zb.n_sh - coalesce(i.n_inter, 0) AS n_union,
         |  coalesce(i.n_inter, 0) * 1000000 // (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) AS jaccard_ppm
         |FROM pairs p LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
         |JOIN sizes za ON za.doc_id = p.a JOIN sizes zb ON zb.doc_id = p.b""".stripMargin
        .replace("\n", " "),
    "q16_simhash" ->
      s"""WITH tc AS (SELECT doc_id, token, count(*) AS cnt, ${h30Sql("token")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE len(token) > 0 GROUP BY doc_id, token),
         |bits AS (SELECT doc_id, j, sum(cnt * (((h >> j) & 1) * 2 - 1)) AS s
         |  FROM tc, (SELECT unnest(range(0, 16)) AS j) js GROUP BY doc_id, j)
         |SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS simhash
         |FROM bits GROUP BY doc_id""".stripMargin.replace("\n", " "),
    "q17_langid" -> {
      val cands = TextAnalysis.markers.toSeq.sortBy(_._1).map { case (lang, ws) =>
        val arr = ws.map(w => s"'$w'").mkString(", ")
        s"SELECT doc_id, '$lang' AS lang, len(list_filter(string_split(text, ' '), t -> list_contains([$arr], t)))::BIGINT AS hits FROM documents"
      }.mkString(" UNION ALL ")
      s"""WITH scored AS ($cands),
         |ranked AS (SELECT doc_id, lang, hits,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn FROM scored)
         |SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang, hits
         |FROM ranked WHERE rn = 1""".stripMargin.replace("\n", " ")
    },
    "q18_quality" -> {
      val sw = TextAnalysis.markers("en").map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id, n_tokens, n_chars,
         |n_chars * 1000000 // greatest(n_tokens, 1) AS avg_token_len_ppm,
         |n_punct * 1000000 // greatest(n_chars, 1) AS punct_ppm,
         |n_stop * 1000000 // greatest(n_tokens, 1) AS stopword_ppm,
         |n_uniq * 1000000 // greatest(n_tokens, 1) AS uniq_ppm
         |FROM (SELECT doc_id,
         |  len(list_filter(tk, t -> len(t) > 0))::BIGINT AS n_tokens,
         |  len(text)::BIGINT AS n_chars,
         |  (len(text) - len(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::BIGINT AS n_punct,
         |  len(list_filter(tk, t -> list_contains([$sw], t)))::BIGINT AS n_stop,
         |  len(list_distinct(list_filter(tk, t -> len(t) > 0)))::BIGINT AS n_uniq
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents))""".stripMargin
        .replace("\n", " ")
    },
    "q19_token_counts" ->
      """SELECT doc_id,
        |len(list_filter(string_split(text, ' '), t -> len(t) > 0))::BIGINT AS ws_tokens,
        |len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens
        |FROM documents""".stripMargin.replace("\n", " "),
    "q20_fingerprint" ->
      // LEFT JOIN from documents so empty/whitespace-only docs keep a row
      // with fingerprint 0 (matches the Spark-side empty-doc guard)
      s"""SELECT d.doc_id, coalesce(f.fp, 0)::BIGINT AS fingerprint FROM documents d
         |LEFT JOIN (SELECT doc_id, sum((${h30Sql("token")} % 1000003) * pos) % 2147483648 AS fp
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents)
         |  WHERE len(token) > 0 GROUP BY doc_id) f ON d.doc_id = f.doc_id""".stripMargin
        .replace("\n", " "),
    "q21_cosine_topk" ->
      """WITH e AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS u,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id,
        |    sum(floor(q.u * c.u * 1000000))::BIGINT AS dqc,
        |    sum(floor(q.u * q.u * 1000000))::BIGINT AS dqq,
        |    sum(floor(c.u * c.u * 1000000))::BIGINT AS dcc
        |  FROM e q JOIN e c ON q.i = c.i
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
        |  GROUP BY q.vec_id, c.vec_id),
        |x AS (SELECT q_id, vec_id,
        |  floor(dqc / sqrt(dqq * dcc) * 1000000000)::BIGINT AS cos_mppm FROM pairs)
        |SELECT q_id, vec_id, rank, cos_mppm FROM (
        |  SELECT q_id, vec_id, cos_mppm,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos_mppm DESC, vec_id ASC) AS rank
        |  FROM x) WHERE rank <= 5""".stripMargin.replace("\n", " "),
    "q22_ivf_assign" ->
      """WITH e AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS u,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |cp AS (
        |  SELECT v.vec_id, c.vec_id AS centroid_id,
        |    sum(floor(v.u * c.u * 1000000))::BIGINT AS dvc,
        |    sum(floor(v.u * v.u * 1000000))::BIGINT AS dvv,
        |    sum(floor(c.u * c.u * 1000000))::BIGINT AS dcc
        |  FROM e v JOIN e c ON v.i = c.i AND c.vec_id < 16
        |  GROUP BY v.vec_id, c.vec_id),
        |x AS (SELECT vec_id, centroid_id,
        |  floor(dvc / sqrt(dvv * dcc) * 1000000000)::BIGINT AS cos_mppm FROM cp)
        |SELECT vec_id, centroid_id FROM (
        |  SELECT vec_id, centroid_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cos_mppm DESC, centroid_id ASC) AS rn
        |  FROM x) WHERE rn = 1""".stripMargin.replace("\n", " "),
    "q24_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS u,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |cp AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    sum(floor(x.u * y.u * 1000000))::BIGINT AS dab,
        |    sum(floor(x.u * x.u * 1000000))::BIGINT AS daa,
        |    sum(floor(y.u * y.u * 1000000))::BIGINT AS dbb
        |  FROM e x JOIN e y ON x.i = y.i AND x.label = y.label AND x.vec_id < y.vec_id
        |  GROUP BY x.vec_id, y.vec_id)
        |SELECT a, b, cos_mppm FROM (
        |  SELECT a, b, floor(dab / sqrt(daa * dbb) * 1000000000)::BIGINT AS cos_mppm FROM cp)
        |WHERE cos_mppm >= 350000000""".stripMargin.replace("\n", " "),
    "q39_blocked_neardup" ->
      """WITH e AS (SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS u,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |bands AS (SELECT vec_id, label,
        |    sum(CASE WHEN u > 0 THEN 1::BIGINT << (i - 1) ELSE 0 END)::BIGINT AS band
        |  FROM e WHERE i <= 8 GROUP BY vec_id, label),
        |cp AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    sum(floor(x.u * y.u * 1000000))::BIGINT AS dab,
        |    sum(floor(x.u * x.u * 1000000))::BIGINT AS daa,
        |    sum(floor(y.u * y.u * 1000000))::BIGINT AS dbb
        |  FROM e x JOIN e y ON x.i = y.i AND x.label = y.label AND x.vec_id < y.vec_id
        |  JOIN bands ba ON ba.vec_id = x.vec_id JOIN bands bb ON bb.vec_id = y.vec_id
        |  WHERE ba.band = bb.band
        |  GROUP BY x.vec_id, y.vec_id)
        |SELECT a, b, cos_mppm FROM (
        |  SELECT a, b, floor(dab / sqrt(daa * dbb) * 1000000000)::BIGINT AS cos_mppm FROM cp)
        |WHERE cos_mppm >= 350000000""".stripMargin.replace("\n", " "),
    "q25_window_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |sum(floor(value * 1000000)::BIGINT)::BIGINT AS value_sum_micro
        |FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " "),
    "q45_seeded_shuffle" ->
      s"""WITH r AS (SELECT doc_id, ${md5numSql("'42:' || doc_id::VARCHAR")} AS h FROM documents),
         |n AS (SELECT count(*) AS total FROM r),
         |o AS (SELECT doc_id, row_number() OVER (ORDER BY h ASC, doc_id ASC) AS pos FROM r)
         |SELECT o.doc_id, o.pos,
         |CASE WHEN o.pos * 100 <= n.total * 80 THEN 'train' ELSE 'valid' END AS fold
         |FROM o, n""".stripMargin.replace("\n", " "),
    "q26_split" ->
      s"""SELECT doc_id,
         |CASE WHEN ${md5numSql("doc_id::VARCHAR")} % 10 < 8 THEN 'train' ELSE 'valid' END AS fold
         |FROM documents""".stripMargin.replace("\n", " "),
    "q27_weighted_sample" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |v AS (SELECT token, count(*) AS freq FROM tok WHERE len(token) > 0 GROUP BY token),
         |ch AS (SELECT token AS sampled,
         |  row_number() OVER (ORDER BY freq DESC, token ASC) AS ord,
         |  sum(freq) OVER (ORDER BY freq DESC, token ASC) * 1000000 // (SELECT sum(freq) FROM v) AS cum_hi
         |  FROM v),
         |c AS (SELECT sampled, cum_hi,
         |  coalesce(lag(cum_hi, 1) OVER (ORDER BY ord), 0) AS cum_lo FROM ch),
         |r AS (SELECT doc_id, ${md5numSql("doc_id::VARCHAR")} % 1000000 AS r FROM documents)
         |SELECT r.doc_id, r.r, c.sampled FROM r JOIN c ON r.r >= c.cum_lo AND r.r < c.cum_hi""".stripMargin
        .replace("\n", " "))
}
