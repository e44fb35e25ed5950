package graft.functions

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.sql.functions._

/** BPE trainer + encoder: golden merges on the classic toy vocabulary,
  * and agreement between the plain-Scala encoder (driver budget path)
  * and the column-expression encoder (distributed counting / oracle
  * path) on the real corpus.
  */
class BpeSpec extends SparkSpec {

  test("trainer learns the classic merges with deterministic tie-breaks") {
    // low:5 lower:2 newest:6 widest:3 — pair counts give (e,s)=9 and
    // (s,t)=9 in round 1 (lexicographic tie → (e,s)), then (es,t)=9,
    // then (l,o)=7 vs (o,w)=7 (tie → (l,o)).
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Bpe.trainMerges(vocab, 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")), s"got $merges")
  }

  test("trainer ties break in UTF-8 byte order, as Spark and DuckDB sort strings") {
    // U+FFFD sorts BEFORE U+1F600 as UTF-8 bytes (EF.. < F0..) but AFTER
    // it as UTF-16 code units (FFFD > D83D), so Scala's String order
    // would pick the emoji pair.
    val (bmp, emoji) = ("\uFFFD", new String(Character.toChars(0x1F600)))
    val merges = Bpe.trainMerges(Seq((s"${emoji}a", 1L), (s"${bmp}a", 1L)), 1)
    assert(merges == Seq((bmp, "a")), s"got $merges")
    val sparkFirst = spark.createDataFrame(Seq((emoji, "a"), (bmp, "a")))
      .toDF("lhs", "rhs").orderBy("lhs", "rhs").head().getString(0)
    assert(sparkFirst == bmp, "Spark's string order is the trainer's tie order")
  }

  test("the round trace carries each merge's pair count and the corpus size after it") {
    // "aaa":2 "ab":1 — round 1: (a,a)=4 beats (a,b)=1 → [aa, a]×2 + [a, b]
    // = 6 tokens; round 2: (a,b)=1 and (aa,a)=2 → (aa,a) → [aaa]×2 + [a, b]
    // = 4 tokens.
    val rounds = Bpe.trainRounds(Seq(("aaa", 2L), ("ab", 1L)), 2)
    assert(rounds == Seq(Bpe.Round("a", "a", 4L, 6L), Bpe.Round("aa", "a", 2L, 4L)), s"got $rounds")
  }

  test("trainer stops when no pairs remain") {
    val merges = Bpe.trainMerges(Seq(("ab", 1L)), 10)
    assert(merges == Seq(("a", "b")))
  }

  test("encoder applies merges greedily: counts shrink to full-word symbols") {
    val merges = Bpe.trainMerges(Seq(("aaaa", 1L)), 10)
    // "aaaa" → merge (a,a) → [aa, aa] → merge (aa,aa) → [aaaa]: 1 subword.
    assert(Bpe.countSubwords("aaaa", merges) == 1)
    // Greedy left-to-right on an odd run: [aaaa, a] = 2.
    assert(Bpe.countSubwords("aaaaa", merges) == 2)
  }

  test("pipes are wrap delimiters, never symbols: pipe text cannot inflate counts") {
    // '|' is excluded from every pretoken class, so a markdown table row
    // contributes only its non-pipe tokens and the chars upper bound
    // holds (a pipe inside a symbol would make merge patterns ambiguous).
    val text = "| a | bb |"
    assert(Bpe.countSubwords(text, Nil) == 3) // a, b, b
    val merges = Bpe.trainMerges(Seq(("bb", 2L)), 2)
    assert(merges == Seq(("b", "b")))
    assert(Bpe.countSubwords(text, merges) == 2) // a, bb
  }

  test("pretoken-free text counts 0 in BOTH encoders; empty words don't crash training") {
    // The scalar and column encoders must agree on degenerate input:
    // the driver budget/prompt path and the distributed/oracle path
    // previously disagreed (floor-at-1 vs 0) on empty, whitespace-only,
    // and pipe-only strings. The floor now lives only in
    // PostProcess.estimatorFor, the budget call site.
    val merges = Bpe.trainMerges(Seq(("ab", 2L)), 1)
    for (text <- Seq("", "   ", "|||", " | | ")) {
      assert(Bpe.countSubwords(text, merges) == 0, s"scalar on '$text'")
      val viaCol = spark.range(1).select(
        Bpe.countSubwordsCol(lit(text), merges).as("n")).head().getLong(0)
      assert(viaCol == 0L, s"column on '$text'")
    }
    assert(graft.retrieval.PostProcess.estimatorFor(merges)("") == 1,
      "budget estimator keeps the floor")
    // A vocabulary containing an empty word trains fine (public seam).
    assert(Bpe.trainMerges(Seq(("", 5L), ("ab", 1L)), 2) == Seq(("a", "b")))
  }

  test("supplementary characters are one symbol in both encoders") {
    val emoji = new String(Character.toChars(0x1F600)) // outside the BMP
    val text = s"ab${emoji}ab"
    // Scala wrap iterates code points: 'ab', emoji+? — pretokens are
    // [ab][emoji][ab] (emoji falls in the "other" class) → 5 chars.
    assert(Bpe.countSubwords(text, Nil) == 5)
    val viaCol = spark.range(1).select(
      Bpe.countSubwordsCol(lit(text), Nil).as("n")).head().getLong(0)
    assert(viaCol == 5L, s"column encoder counted $viaCol")
  }

  test("all three encoders agree on the real corpus (codegen, HOF, scalar)") {
    val docs = Tables.documents(spark, Sf)
    val merges = Bpe.trainMergesFrom(docs, "text", 8)
    assert(merges.size == 8)
    val rows = docs
      .select(col("doc_id"), col("text"),
        Bpe.countSubwordsCol(col("text"), merges).as("n_fast"),
        Bpe.countSubwordsHofCol(col("text"), merges).as("n_hof"))
      .orderBy("doc_id").limit(25).collect()
    rows.foreach { r =>
      val scalar = Bpe.countSubwords(r.getString(1), merges).toLong
      assert(r.getLong(2) == scalar && r.getLong(3) == scalar,
        s"doc ${r.getLong(0)}: fast=${r.getLong(2)} hof=${r.getLong(3)} scala=$scalar")
    }
  }

  test("the codegen counter runs inside a whole-stage-codegen projection") {
    // Under the session's codegen.fallback=false a compile failure would
    // throw; the plan assert proves the expression doesn't force the
    // stage interpreted the way the HOF formulation does.
    val merges = Bpe.trainMerges(Seq(("ab", 2L)), 1)
    val df = Tables.documents(spark, Sf)
      .select(Bpe.countSubwordsCol(col("text"), merges).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [bpe_count_subwords"),
      s"expected codegen span in:\n$plan")
    assert(df.head().getLong(0) > 0L)
  }

  test("q_token_budget_bpe: rows kept, cumulative sum monotone under the cap") {
    val out = graft.SparkEntry.queries("q_token_budget_bpe")(spark, Sf).collect()
    assert(out.nonEmpty)
    val cums = out.map(_.getLong(3))
    assert(cums.toSeq == cums.sorted.toSeq)
    assert(cums.last <= 6000L)
    // BPE costs are real subword counts: strictly under chars (merged)
    // and at least the pretoken count.
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)))
  }
}
