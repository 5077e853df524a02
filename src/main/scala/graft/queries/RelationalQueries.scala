package graft.queries

import graft.functions.Ranks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Oracle-checked query registry: each entry maps a SURVEY.md §2 operator onto
  * the driver's parquet tables, with a DuckDB-equivalent SQL oracle.
  *
  * Determinism rules for oracle parity:
  *  - money sums go through DECIMAL casts (2-dec doubles cast exactly; decimal
  *    addition is associative ⇒ partition-order invariant), surfaced as DOUBLE;
  *  - ratios use integer `div` (both engines floor positive ints identically);
  *  - every computed column is aliased identically on both sides.
  */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A9-shape: hash aggregation with decimal-exact money sums (map-side
    // partials free from Catalyst; 6 groups → no skew at any scale)
    "q01_pricing_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").as("sum_qty"),
          expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)").as("sum_base"),
          expr("cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double)")
            .as("sum_disc"),
          count(lit(1)).as("n_rows"))),

    // A1: token frequency count (vocab pass #1 of the reference)
    "q02_token_freq" -> ((s, dir) => tokenFreq(s, dir)),

    // W2/A2: vocab rank = id by (freq desc, token asc) — deterministic
    // tie-break the reference lacks (Counter.most_common is insertion-order).
    // Ranked in one sorted pass (Ranks.globalRowNumber), NOT a single-partition
    // window — the vocabulary grows with the corpus (Heaps' law)
    "q03_vocab_rank" -> ((s, dir) => {
      Ranks.globalRowNumber(tokenFreq(s, dir), Seq(col("freq").desc, col("token").asc), "__rn")
        .withColumn("id", (col("__rn") - 1).cast("int"))
        .filter(col("id") < 1000)
        .select("token", "freq", "id")
    }),

    // A4: unigram distribution as parts-per-million via integer div; the
    // corpus total is a broadcast 1-row scalar, not a global window
    "q04_unigram_ppm" -> ((s, dir) =>
      Ranks.withTotal(tokenFreq(s, dir), sum("freq"), "total")
        .select(col("token"), expr("freq * 1000000L div total").as("ppm"))),

    // J1/P10: dictionary join with OOV default — the entity-linking primitive
    // (vocab2idx, semeval2sdp.py:264-271): top-100 vocab, misses → id 100
    "q05_dict_join_oov" -> ((s, dir) => {
      val vocab = Ranks.globalRowNumber(tokenFreq(s, dir), Seq(col("freq").desc, col("token").asc), "__rn")
        .withColumn("id", (col("__rn") - 1).cast("int"))
        .filter(col("id") < 100)
        .select(col("token").as("v_token"), col("id"))
      tokens(s, dir)
        .join(broadcast(vocab), col("token") === col("v_token"), "left")
        .select(col("doc_id"), col("pos"), col("token"),
          coalesce(col("id"), lit(100)).as("token_id"))
    }),

    // W1/W3: top-k per group (rank + filter)
    "q06_topk_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")),

    // F4-shape: semi join (EXISTS)
    "q07_semi_join" -> ((s, dir) => {
      val big = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    }),

    // F5-shape: anti join (NOT EXISTS) — customers with no large order
    "q08_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // U2/J7: source-tagged union
    "q09_union_tag" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_name").as("name"), lit("CUST").as("src"))
        .unionByName(
          t(s, dir, "supplier").select(col("s_name").as("name"), lit("SUPP").as("src")))),

    // J-chain with broadcast dims: revenue per nation (customer⋈orders⋈lineitem⋈nation)
    "q10_join_chain" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          expr("cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double)")
            .as("revenue"),
          count(lit(1)).as("n_items"))
    }))

  val oracles: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
        |count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),
    "q02_token_freq" ->
      s"SELECT token, count(*) AS freq FROM ($tokensSql) GROUP BY token",
    "q03_vocab_rank" ->
      s"""SELECT * FROM (
         |SELECT token, count(*) AS freq,
         |row_number() OVER (ORDER BY count(*) DESC, token ASC) - 1 AS id
         |FROM ($tokensSql) GROUP BY token) WHERE id < 1000""".stripMargin.replace("\n", " "),
    "q04_unigram_ppm" ->
      // `sum() OVER ()` promotes to HUGEINT in DuckDB and BIGINT//HUGEINT stays
      // HUGEINT — cast back so the driver's dtype-sensitive hash matches Spark
      s"""SELECT token, (freq * 1000000 // sum(freq) OVER ())::BIGINT AS ppm FROM (
         |SELECT token, count(*) AS freq FROM ($tokensSql) GROUP BY token)""".stripMargin
        .replace("\n", " "),
    "q05_dict_join_oov" ->
      s"""WITH toks AS ($tokensSql),
         |vocab AS (SELECT * FROM (
         |  SELECT token AS v_token, count(*) AS freq,
         |  row_number() OVER (ORDER BY count(*) DESC, token ASC) - 1 AS id
         |  FROM toks GROUP BY token) WHERE id < 100)
         |SELECT t.doc_id, t.pos, t.token, coalesce(v.id, 100) AS token_id
         |FROM toks t LEFT JOIN vocab v ON t.token = v.v_token""".stripMargin.replace("\n", " "),
    "q06_topk_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin.replace("\n", " "),
    "q07_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""".stripMargin
        .replace("\n", " "),
    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin
        .replace("\n", " "),
    "q09_union_tag" ->
      """SELECT c_name AS name, 'CUST' AS src FROM customer
        |UNION ALL SELECT s_name AS name, 'SUPP' AS src FROM supplier""".stripMargin
        .replace("\n", " "),
    "q10_join_chain" ->
      """SELECT n_name,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin.replace("\n", " "))
}
