package graft.operators

import graft.functions.VectorHofTwins
import graft.io.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declarative formulations the compiled kernels and aggregate
  * forms replaced, kept as the references the parity specs compare the
  * engine against. The engine itself never calls them.
  */
object ParityTwins {
  import Lifecycle.minhashCcLabelsFromSigs
  import Progress.itemLedger
  import ScalePatterns.{KmeansK, meanCentroids}
  import Selection.codebook
  import TextAnalysis.BpeRe
  import TextAnalysisShared.{MinhashA, MinhashP, hash64, shingles}

  import Pq.{PqD, PqKs, PqM}

  /** Squared L2 as an interpreted fold, in double — parity twin of
    * [[graft.functions.VectorFunctions.sqDistVec]].
    */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => pow(x.cast("double") - y, lit(2))),
      lit(0.0), (acc, x) => acc + x)

  /** (vec_id, sub, svec): the m contiguous subvector slices, cast to
    * double once so every later distance is double-exact. The query
    * paths assign and encode through the
    * [[graft.functions.VectorFunctions.pqAssign]] kernel without ever
    * exploding subvector rows.
    */
  def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      explode(sequence(lit(0), lit(PqM - 1))).as("sub"), col("embedding"))
      .select(col("vec_id"), col("sub"),
        transform(slice(col("embedding"), col("sub") * PqD + 1, lit(PqD)),
          _.cast("double")).as("svec"))

  /** One Lloyd round per subspace from the fixed seeds (vec_id < ks),
    * returning the updated (sub, cid, cvec) codebook — elements rounded
    * to 6 decimals so both engines encode from bit-identical codebooks
    * (the reference for `Pq.trainCodebookArrays`). The assign argmin is
    * the map-side-combined min(struct(dist2, cid, svec)) — one row per
    * (vector, subspace) reaches the exchange, and the struct comparison
    * never passes (dist2, cid), which is unique per group by
    * construction.
    */
  def pqTrainCodebook(subv: DataFrame): DataFrame = {
    val c0 = subv.filter(col("vec_id") < PqKs)
      .select(col("sub"), col("vec_id").as("cid"), col("svec").as("cvec"))
    val asg = subv.join(broadcast(c0), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        struct(round(sqDist(col("svec"), col("cvec")), 6).as("dist2"),
          col("cid"), col("svec")).as("cand"))
      .groupBy("vec_id", "sub").agg(min("cand").as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("cid"),
        col("m.svec").as("svec"))
    asg.select(col("sub"), col("cid"), posexplode(col("svec")))
      .groupBy("sub", "cid", "pos")
      .agg(round(avg(col("col")), 6).as("c"))
      .groupBy("sub", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cvec"))
  }

  /** Encode: each (vector, subspace) takes its nearest updated
    * centroid's id — the declarative PQ code table the `pqAssign`
    * kernel reproduces.
    */
  def pqEncode(subv: DataFrame, cent: DataFrame): DataFrame =
    subv.join(broadcast(cent), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        struct(round(sqDist(col("svec"), col("cvec")), 6).as("dist2"),
          col("cid")).as("cand"))
      .groupBy("vec_id", "sub").agg(min("cand").as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("cid"))

  /** The pre-kernel declarative Lloyd loop — the parity reference
    * CentroidKernelSpec pins the kernel form against (same seeds, same round6
    * argmin tie-broken by cid, same mean update).
    */
  def kmeansFitDeclarative(s: SparkSession, dir: String,
      iters: Int): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    var cent = e.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    var asg: DataFrame = e // placeholder; overwritten by the first iteration
    for (_ <- 1 to iters) {
      val dist = e.crossJoin(broadcast(cent))
        .select(col("vec_id"),
          struct(round(sqDist(col("embedding"), col("cvec")), 6).as("dist2"),
            col("cid"), col("embedding")).as("cand"))
      asg = dist.groupBy("vec_id").agg(min("cand").as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"),
          col("m.embedding").as("embedding"), col("m.dist2").as("dist2"))
      cent = meanCentroids(asg, col("cid"), col("embedding"), "cid")
    }
    (cent, asg)
  }

  /** The pre-kernel declarative assign — the parity reference
    * CentroidKernelSpec pins the kernel form against.
    */
  def assignedDeclarative(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(codebook(e)))
      .select(col("vec_id"),
        struct(
          round(VectorHofTwins.cosineHof(col("embedding"), col("centroid")), 4).as("csim"),
          (-col("cl")).as("ncl"), col("embedding")).as("cand"))
      .groupBy("vec_id").agg(max("cand").as("m"))
      .select(col("vec_id"), (-col("m.ncl")).as("cluster"),
        col("m.csim").as("csim"), col("m.embedding").as("embedding"))

  /** The pre-kernel HOF formulation of `TextAnalysisShared.ngrams`:
    * n-token grams of the whitespace tokenization. Documents with fewer
    * than n tokens yield an empty array (matching the oracles'
    * generate_series(1, len-n+1), which is empty for len < n — Spark's
    * sequence() would instead count DOWN and make slice() throw).
    */
  def ngramsHof(textCol: Column, n: Int): Column = {
    val toks = split(textCol, " ")
    val idx = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    transform(idx, i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Fold the run lengths of the sorted word n-grams of `text` into
    * struct(topchars, dupchars): chars of the single most frequent
    * gram's occurrences (ties by larger gram string, matching the
    * oracle's ORDER BY c DESC, g DESC) and chars of all grams occurring
    * ≥ 2×. Equal grams are adjacent after array_sort, so one
    * left-to-right pass sees every run; the finish lambda closes the
    * last run.
    *
    * This HOF formulation is the READABLE twin: the shipped query uses
    * the compiled [[graft.functions.expressions.GopherRepStats]] (the
    * interpreted per-element lambda cost dominated the ×100 decade);
    * `Wave5Spec` pins the two to identical values on the real corpus.
    */
  def gramRunStats(text: Column, n: Int): Column = {
    val sorted = array_sort(ngramsHof(text, n))
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("topc"), lit("").as("topg"), lit(0L).as("dup"))
    // (topc, topg, dup) with the pending (prev, run) run folded in.
    def closeRun(acc: Column): Column = {
      val (prev, run) = (acc.getField("prev"), acc.getField("run"))
      val (topc, topg, dup) =
        (acc.getField("topc"), acc.getField("topg"), acc.getField("dup"))
      val better = (run > topc) || (run === topc && prev > topg)
      struct(
        when(better, run).otherwise(topc).as("topc"),
        when(better, prev).otherwise(topg).as("topg"),
        (dup + when(run >= 2, run * length(prev).cast("long"))
          .otherwise(lit(0L))).as("dup"))
    }
    aggregate(sorted, init,
      (acc, g) => {
        val same = acc.getField("prev") === g
        val c = closeRun(acc)
        struct(g.as("prev"),
          when(same, acc.getField("run") + 1).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("topc")).otherwise(c.getField("topc")).as("topc"),
          when(same, acc.getField("topg")).otherwise(c.getField("topg")).as("topg"),
          when(same, acc.getField("dup")).otherwise(c.getField("dup")).as("dup"))
      },
      acc => {
        val c = closeRun(acc)
        struct(
          (c.getField("topc") * length(c.getField("topg")).cast("long")).as("topchars"),
          c.getField("dup").as("dupchars"))
      })
  }

  /** The pre-kernel explode + multi-min-groupBy formulation, kept as
    * the parity twin the spec checks the kernel against.
    */
  def bandedMinhashSigsExploded(docs: DataFrame, nBands: Int): DataFrame = {
    require(nBands <= MinhashA.size, s"at most ${MinhashA.size} bands")
    val hashed = Tables.spread(docs)
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .select(col("doc_id"), (hash64(col("shingle")) % MinhashP).as("x"))
    val aggs = (0 until nBands)
      .map(b => min((col("x") * MinhashA(b) + b) % MinhashP).as(s"_sig$b"))
    val stacked = (0 until nBands)
      .map(b => s"cast($b as bigint), _sig$b")
      .mkString(s"stack($nBands, ", ", ", ") as (band, sig)")
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .selectExpr("doc_id", stacked)
  }

  /** The explode→groupBy SimHash twin, kept for the spec's
    * kernel-equality pin.
    */
  def simhashExplodeTwin(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .withColumn("h", md5(col("t").cast("binary")))
    val sums = (1 to 16).map { p =>
      sum(when(expr(s"conv(substring(h, $p, 1), 16, 10)").cast("int") >= 8, 1)
        .otherwise(-1)).as(s"s$p")
    }
    val bits = (1 to 16).map { p =>
      when(col(s"s$p") >= 0, lit("1")).otherwise(lit("0"))
    }
    tok.groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash"))
      .orderBy("doc_id")
  }

  /** The pre-kernel regex formulation of [[bpeTokens]], kept as the
    * parity twin the property spec checks the compiled scan against.
    */
  def bpeTokensRegex(docs: DataFrame): DataFrame = {
    val raw = concat(col("text"), lit(" doc"), col("doc_id"), lit(" v2.5 end!!"))
    val toks = regexp_extract_all(col("raw"), lit(BpeRe), lit(0))
    docs
      .select(col("doc_id"), raw.as("raw"))
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_bpe"),
        size(filter(toks, t => t.rlike("^ ?[a-z]"))).cast("long").as("n_word"),
        size(filter(toks, t => t.rlike("^ ?[0-9]"))).cast("long").as("n_num"),
        size(filter(toks, t => t.rlike("^ ?[^a-z0-9 ]"))).cast("long").as("n_other"),
        size(split(col("raw"), " ")).cast("long").as("n_ws"),
        expr("length(raw) div 4").cast("long").as("est_tokens"))
      .orderBy("doc_id")
  }

  /** The pre-aggregation window formulation of [[nextAction]], kept as
    * the parity twin the spec checks the argmax picks against (and the
    * shape the oracle SQL replays).
    */
  def nextActionWindowed(s: SparkSession, dir: String): DataFrame = {
    val act = itemLedger(s, dir).filter(col("actionable") === 1)
    def rk(order: org.apache.spark.sql.Column*) =
      row_number().over(Window.partitionBy("project").orderBy(order: _*))
    val ranked = act
      .withColumn("rk_priority", rk(col("priority").desc, col("item_id")))
      .withColumn("rk_blocked_unblock", rk(col("unblocks").desc, col("item_id")))
      .withColumn("rk_quick_win", rk(col("n_criteria").asc, col("item_id")))
      .withColumn("rk_fifo", rk(col("created_at").asc, col("item_id")))
    ranked.select(col("project"), col("item_id"), col("priority"),
        col("unblocks"), col("n_criteria"),
        expr("""stack(4,
          'priority', rk_priority,
          'blocked_unblock', rk_blocked_unblock,
          'quick_win', rk_quick_win,
          'fifo', rk_fifo) AS (strategy, rk)"""))
      .filter(col("rk") === 1)
      .select("project", "strategy", "item_id", "priority", "unblocks", "n_criteria")
      .orderBy("project", "strategy")
  }

  /** Connected-component labels of a documents frame's MinHash-LSH
    * candidate graph: [[Lifecycle.minhashCcLabelsFromSigs]] over its
    * 4-band signatures.
    */
  def minhashCcLabels(docs: DataFrame): DataFrame =
    minhashCcLabelsFromSigs(TextAnalysisShared.bandedMinhashSigs(docs, 4))
}
