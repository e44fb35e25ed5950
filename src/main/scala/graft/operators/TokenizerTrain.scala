package graft.operators

import graft.Q
import graft.functions.Bpe
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** BPE merge training (Sennrich et al. 2016) — the step that PRODUCES
  * the merge tables `q_bpe_tokens`/`q_bpe_fertility` consume. The
  * classic trainer split: one distributed, map-side-combined aggregate
  * collapses the corpus to its (word, count) vocabulary, and every
  * training round after that runs on the collected vocabulary in the
  * driver, through the engine's one merge loop
  * ([[graft.functions.Bpe.trainRounds]]): pair counts weighted by word
  * count, the argmax merge with ties by (lhs, rhs) in UTF-8 byte order,
  * and a greedy left-to-right apply over each word's code-point
  * symbols.
  *
  * Scale shape: corpus → vocab is the only corpus-sized pass, and the
  * only Spark work; a session runs it once per `documents` state. The
  * driver holds the vocabulary — distinct words, not the corpus — the
  * way MLlib's Word2Vec and CountVectorizer hold theirs; there is no
  * cap, because the query and its oracle define none. The outputs are small local frames, so the query plan is a
  * local scan.
  *
  * Output: the first R learned merges as (round, lhs, rhs, pair_cnt).
  * Once no pair remains, training stops: `q_bpe_train` emits no further
  * rounds and every later `q_bpe_compression` total is NULL — what the
  * oracle's empty argmax CTE gives too.
  */
object TokenizerTrain {

  private val BpeRounds = 3

  /** The corpus vocabulary (word, count) on the driver, collected once
    * per `documents` table state ([[graft.internal.SessionMemo]]) and
    * shared by both queries. Empty tokens (doubled separators) carry no
    * pair signal — filtered on both engines.
    */
  private val vocabMemo = new graft.internal.SessionMemo[Seq[(String, Long)]]("bpe_vocab_build")

  private def vocab(s: SparkSession, dir: String): Seq[(String, Long)] =
    vocabMemo.getOrBuild(s, s"$dir/documents.parquet") {
      Tables.spread(Tables.documents(s, dir))
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }

  private def local(s: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    s.createDataFrame(rows.asJava, schema)

  private val TrainSchema = StructType(Seq(
    StructField("round", IntegerType, nullable = false),
    StructField("lhs", StringType), StructField("rhs", StringType),
    StructField("pair_cnt", LongType)))

  private def bpeTrain(s: SparkSession, dir: String): DataFrame =
    local(s, TrainSchema, Bpe.trainRounds(vocab(s, dir), BpeRounds).zipWithIndex.map {
      case (r, i) => Row(i + 1, r.lhs, r.rhs, r.pairCnt)
    })

  private val CompressionSchema = StructType(Seq(
    StructField("round", IntegerType, nullable = false),
    StructField("total_tokens", LongType)))

  /** The trainer→tokenizer handoff audited as a compression curve:
    * corpus token count after 0..R merges (round 0 = raw characters of
    * the non-empty words; NULL over an empty vocabulary, like a SQL sum
    * over no rows). Each round with a positive pair count must strictly
    * shrink the corpus — spec-pinned; at full vocab size this curve is
    * the fertility trajectory a tokenizer team actually tracks while
    * training.
    */
  private def bpeCompression(s: SparkSession, dir: String): DataFrame = {
    val words = vocab(s, dir)
    val raw: Option[Long] =
      if (words.isEmpty) None
      else Some(words.map { case (w, c) => w.codePointCount(0, w.length) * c }.sum)
    val after = Bpe.trainRounds(words, BpeRounds).map(r => Some(r.tokensAfter))
    local(s, CompressionSchema, (raw +: after.padTo(BpeRounds, None)).zipWithIndex.map {
      case (t, r) => Row(r, t.map(Long.box).orNull)
    })
  }

  // One round as oracle CTEs: pair counts from the given words CTE,
  // argmax, apply — shared by the trainer and the compression curve so
  // the round formula exists in one copy.
  private def pairsCteSql(words: String, g: String, m: String): String =
    s"""$g AS (
       |  SELECT p.l AS lhs, p.r AS rhs, sum(cnt)::BIGINT AS pair_cnt FROM (
       |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
       |      i -> {'l': syms[i], 'r': syms[i + 1]})) AS p
       |    FROM $words) GROUP BY 1, 2),
       |$m AS (SELECT lhs, rhs, pair_cnt FROM $g
       |  ORDER BY pair_cnt DESC, lhs, rhs LIMIT 1)""".stripMargin

  // The merge joins in as plain columns (DuckDB rejects subqueries
  // inside lambda bodies) — m is 1 row, so the cross join is a
  // broadcast of the merge pair, same shape as the Spark side.
  private def applyCteSql(words: String, m: String, out: String): String =
    s"""$out AS (
       |  SELECT w, cnt,
       |    list_reduce(list_transform(syms, x -> [x]),
       |      (acc, x) -> CASE
       |        WHEN acc[len(acc)] = m.lhs AND x[1] = m.rhs
       |        THEN list_append(list_slice(acc, 1, len(acc) - 1), m.lhs || m.rhs)
       |        ELSE list_append(acc, x[1]) END) AS syms
       |  FROM $words CROSS JOIN $m m)""".stripMargin

  private val bpeTrainSql = {
    def pairsCte(words: String, g: String, m: String) = pairsCteSql(words, g, m)
    def applyCte(words: String, m: String, out: String) = applyCteSql(words, m, out)
    s"""WITH vocab AS (
       |  SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY 1),
       |w0 AS (
       |  SELECT w, cnt, list_transform(range(1, length(w) + 1), i -> w[i:i]) AS syms
       |  FROM vocab),
       |${pairsCte("w0", "g1", "m1")},
       |${applyCte("w0", "m1", "w1")},
       |${pairsCte("w1", "g2", "m2")},
       |${applyCte("w1", "m2", "w2")},
       |${pairsCte("w2", "g3", "m3")}
       |SELECT 1 AS round, lhs, rhs, pair_cnt FROM m1
       |UNION ALL SELECT 2, lhs, rhs, pair_cnt FROM m2
       |UNION ALL SELECT 3, lhs, rhs, pair_cnt FROM m3
       |ORDER BY round""".stripMargin
  }

  private val bpeCompressionSql = {
    // Reuse the training chain's CTE builders up through w3.
    val prefix = bpeTrainSql.substring(0, bpeTrainSql.indexOf("\nSELECT 1 AS round"))
    def sz(w: String, r: Int) =
      s"SELECT $r AS round, sum(len(syms) * cnt)::BIGINT AS total_tokens FROM $w"
    s"""$prefix,
       |${applyCteSql("w2", "m3", "w3")}
       |${sz("w0", 0)}
       |UNION ALL ${sz("w1", 1)}
       |UNION ALL ${sz("w2", 2)}
       |UNION ALL ${sz("w3", 3)}
       |ORDER BY round""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_bpe_train", bpeTrain, Some(bpeTrainSql)),
    Q("q_bpe_compression", bpeCompression, Some(bpeCompressionSql)))
}
