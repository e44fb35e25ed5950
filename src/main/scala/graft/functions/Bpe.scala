package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding subword tokenizer — the tokenizer-primary half of
  * the reference's token accounting (alma/utils/tokenizer.py:21-520
  * tiktoken-primary, chars/4 estimator fallback budget.py:131-152).
  * Training is the classic two-altitude split: one distributed corpus
  * pass builds the pretoken VOCABULARY with frequencies (bounded by
  * distinct pretokens — O(100k) for natural text regardless of corpus
  * size, the same reason real BPE trainers work on word-frequency
  * dicts), then the merge loop runs on the driver over that bounded
  * table. [[trainRounds]] is the engine's one merge loop: it trains the
  * merge lists of the budget/fertility queries and the Alma prompt
  * gate, and it IS the `q_bpe_train` / `q_bpe_compression` trainer
  * ([[graft.operators.TokenizerTrain]]). Encoding is a pure per-row
  * column expression (codegen'd built-ins, ANSI-expressible so the
  * oracle can replicate it).
  *
  * Representation trick shared by the Scala, Column, and oracle-SQL
  * encoders: a word is its characters wrapped as `|c|` symbols
  * concatenated (`"abc"` → `"|a||b||c|"`), so applying merge (a, b) is
  * the literal replace `|a||b|` → `|ab|`. Left-to-right non-overlapping
  * replacement — the semantics of Java's `String.replace`, Spark's
  * `replace`, and DuckDB's `replace` alike — is exactly BPE's greedy
  * merge application, and because symbols never contain `|`, a pattern
  * can only ever match whole symbols. The subword count of a word is
  * then pipes/2.
  */
object Bpe {

  /** Pretokenizer classes (lookahead-free so Java regex and RE2 agree):
    * letter runs, digit runs, other non-space-non-pipe runs. Spaces
    * separate pretokens and are not counted (simpler than GPT-2's
    * leading-space convention; the estimator's job is budget
    * accounting, not model parity). The pipe is excluded because it is
    * the wrap delimiter — a symbol containing `|` would make merge
    * patterns ambiguous, so pipes are treated like whitespace.
    */
  val PretokenRe = "[a-z]+|[0-9]+|[^a-z0-9 |]+"

  /** Linear-scan pretokenizer — the compiled twin of
    * `regexp_extract_all(text, PretokenRe)`: spaces and pipes match no
    * alternative (they separate pretokens), every other char belongs
    * to exactly one class (letter run, digit run, other run), and the
    * ordered-alternation regex on such a partition is just maximal
    * same-class runs. A regex engine pays backtracking bookkeeping per
    * char; at 100 TB the pretokenization pass IS the tokenizer cost,
    * so the hot paths (the vocab scan, the per-row counter) call this
    * and the regex stays as the parity ground truth (`KernelProps`
    * pins scanner == regex over an adversarial alphabet, BpeSpec over
    * the real corpus). Surrogate pairs: both halves are "other" class,
    * so they extend one run exactly like the code-point regex.
    */
  def pretokens(text: String): Iterator[String] = new Iterator[String] {
    private var i = 0
    private def cls(c: Char): Int =
      if (c >= 'a' && c <= 'z') 0
      else if (c >= '0' && c <= '9') 1
      else if (c == ' ' || c == '|') -1
      else 2
    private def skipSep(): Unit =
      while (i < text.length && cls(text.charAt(i)) < 0) i += 1
    skipSep()
    def hasNext: Boolean = i < text.length
    def next(): String = {
      val k = cls(text.charAt(i))
      val start = i
      while (i < text.length && cls(text.charAt(i)) == k) i += 1
      val t = text.substring(start, i)
      skipSep()
      t
    }
  }

  /** `"abc"` → `"|a||b||c|"`. Iterates CODE POINTS, not UTF-16 units,
    * so a supplementary character (emoji) is one symbol — matching the
    * column encoder's `(?s)(.)` (Java regex `.` is one code point) and
    * the oracle's per-character split.
    */
  def wrap(word: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      sb.append('|').append(word.substring(i, i + n)).append('|')
      i += n
    }
    sb.toString
  }

  /** One training round: the merged pair, its weighted pair count, and
    * the corpus token count (symbols × word frequency) after the merge
    * is applied.
    */
  final case class Round(lhs: String, rhs: String, pairCnt: Long, tokensAfter: Long)

  /** A word's code points as symbols — a supplementary character is
    * one symbol, like [[wrap]] and Spark's/DuckDB's per-character
    * `substr`.
    */
  private def codePoints(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Pair order for argmax ties: UTF-8 byte order of (lhs, rhs), the
    * order Spark's `orderBy` and DuckDB's `ORDER BY` give strings.
    * Scala's `String` order is UTF-16 code-unit order, which disagrees
    * with it once a supplementary character meets a BMP character at or
    * above U+E000.
    */
  private def pairBefore(a: (String, String), b: (String, String)): Boolean = {
    def utf8(x: String) = UTF8String.fromString(x)
    val c = utf8(a._1).compareTo(utf8(b._1))
    if (c != 0) c < 0 else utf8(a._2).compareTo(utf8(b._2)) < 0
  }

  /** The BPE merge loop as a round trace — the one trainer behind the
    * merge list ([[trainMerges]]) and the `q_bpe_train` /
    * `q_bpe_compression` queries. Each round counts adjacent symbol
    * pairs weighted by word frequency (every position counts, so "aaa"
    * holds (a, a) twice), picks the most frequent pair (ties by
    * (lhs, rhs) in UTF-8 byte order), and applies it greedily left to
    * right in every word ("aaa" under (a, a) becomes [aa, a]). Symbols
    * are code points, kept as arrays, so any character — the pipe
    * included — can be a symbol. Training stops early once no word has
    * two symbols left: the trace then holds fewer than `numMerges`
    * rounds. Deterministic for a given vocabulary, in any order.
    *
    * The vocabulary lives on the driver, as the word table of MLlib's
    * Word2Vec and CountVectorizer does: distinct words, not the corpus,
    * bound its memory. Empty words carry no symbols and are dropped.
    */
  def trainRounds(wordFreqs: Seq[(String, Long)], numMerges: Int): Seq[Round] = {
    var words = wordFreqs.collect { case (w, f) if w.nonEmpty => (codePoints(w), f) }
    val rounds = Seq.newBuilder[Round]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var k = 0
        while (k < syms.length - 1) {
          val p = (syms(k), syms(k + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          k += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.reduce { (x, y) =>
          if (y._2 > x._2 || (y._2 == x._2 && pairBefore(y._1, x._1))) y else x
        }
        val ab = a + b
        words = words.map { case (syms, f) =>
          val out = Array.newBuilder[String]
          var k = 0
          while (k < syms.length) {
            if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
              out += ab; k += 2
            } else { out += syms(k); k += 1 }
          }
          (out.result(), f)
        }
        rounds += Round(a, b, c, words.map { case (syms, f) => syms.length * f }.sum)
        i += 1
      }
    }
    rounds.result()
  }

  /** Learn up to `numMerges` merges from a word-frequency table: the
    * merge pairs of [[trainRounds]].
    */
  def trainMerges(wordFreqs: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] =
    trainRounds(wordFreqs, numMerges).map(r => (r.lhs, r.rhs))

  /** Natural text has a bounded vocabulary, but adversarial corpora
    * (random strings, base64 blobs) do not — the trainer keeps only the
    * most frequent pretokens so the driver transfer is bounded by
    * construction, the way real BPE trainers apply a frequency cutoff.
    * Rare tokens contribute no competitive pairs anyway.
    */
  val MaxVocab: Int = 1 << 16

  /** Distributed vocabulary pass (pretokenize + frequency groupBy —
    * ONE corpus scan, one shuffle bounded by vocabulary size, top-N cut
    * as TakeOrderedAndProject) feeding the driver-side merge loop.
    */
  def trainMergesFrom(docs: DataFrame, textCol: String, numMerges: Int,
      maxVocab: Int = MaxVocab): Seq[(String, String)] = {
    // Compiled pretokenizer ([[pretokens]] via PretokensExpr) instead
    // of regexp_extract_all: this is the one corpus-sized pass of BPE
    // training, and the regex was its cost.
    val toks = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.PretokensExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(textCol))))
    val vocab = docs
      .select(explode(toks).as("w"))
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w"))
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
      .toSeq
    trainMerges(vocab, numMerges)
  }

  /** Subword count of one string under a trained merge list — the
    * EXACT plain-Scala twin of `countSubwordsCol`: pretoken-free text
    * (empty, whitespace-only, pipe-only) counts 0 in both, matching the
    * reference's count_tokens (tokenizer.py:297-298 returns 0 for empty
    * text). The budget path's floor-at-1 lives in
    * `PostProcess.estimatorFor`, not here.
    */
  def countSubwords(text: String, merges: Seq[(String, String)]): Int = {
    val m = java.util.regex.Pattern.compile(PretokenRe).matcher(text)
    var n = 0
    while (m.find()) {
      var s = wrap(m.group())
      merges.foreach { case (a, b) => s = s.replace(s"|$a||$b|", s"|$a$b|") }
      n += (s.length - s.replace("|", "").length) / 2
    }
    n
  }

  /** Per-row subword count — the distributed counting path. Backed by
    * the codegen'd `BpeCountSubwords` expression (a tight per-row call
    * inside whole-stage codegen); rows with no pretokens count 0. The
    * higher-order-function formulation below documents the same
    * semantics as built-ins and pins the expression in BpeSpec.
    */
  def countSubwordsCol(textCol: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.BpeCountSubwords(
        org.apache.spark.sql.graft.ColumnBridge.expression(textCol), merges))

  /** The same count as pure built-in column expressions: pretokenize,
    * wrap each token's chars, fold the merge list as chained literal
    * replaces, count pipes/2, sum. The higher-order functions
    * (transform/aggregate) evaluate interpreted (CodegenFallback) —
    * kept as the ANSI-shaped parity twin the oracle SQL mirrors, and
    * as the cross-check for `countSubwordsCol`'s codegen path.
    */
  def countSubwordsHofCol(textCol: Column, merges: Seq[(String, String)]): Column = {
    val toks = regexp_extract_all(textCol, lit(PretokenRe), lit(0))
    val counted = transform(toks, { t =>
      val wrapped = regexp_replace(t, "(?s)(.)", "|$1|")
      val merged = merges.foldLeft(wrapped) { case (c, (a, b)) =>
        replace(c, lit(s"|$a||$b|"), lit(s"|$a$b|"))
      }
      ((length(merged) - length(replace(merged, lit("|"), lit("")))) / 2).cast("long")
    })
    coalesce(aggregate(counted, lit(0L), (acc, x) => acc + x), lit(0L))
  }
}
