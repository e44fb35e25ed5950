package graft.operators

import graft.Q
import graft.io.Tables
import graft.retrieval.{Modes, PostProcess}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}

/** Oracle contracts for the driver-side library components that were
  * previously exercised only by unit tests: each query re-expresses a
  * library contract as a distributed plan over the shared test tables
  * so the DuckDB gate can hash-check it independently, and
  * `ContractsSpec` pins the plan's semantics to the actual library
  * function row-for-row (query ⇔ column expressions ⇔ library code).
  *
  * Covered contracts: F7 scope ACL (reference: alma/types.py:46-52),
  * F9 query sanitization (alma/retrieval/query_sanitizer.py:42-200),
  * R5/R6 mode presets + inference (alma/retrieval/modes.py:13-272),
  * R13 share provenance (alma/retrieval/engine.py:804-827),
  * S11 prompt projection (alma/types.py:278-338), J9 cross-
  * verification (alma/retrieval/verification.py:623-688), F10 write
  * guard (alma/core.py learn guard), R3 per-type scoring rules
  * (alma/retrieval/engine.py per-type succ/conf).
  *
  * Scale shape: every query is a scan + narrow projections, a bounded
  * window top-k, or a bucket-local join — nothing materializes on the
  * driver, and the two driver-side greedy algorithms (prompt
  * projection, cross-verification) run over candidate sets bounded
  * per group regardless of corpus size.
  */
object Contracts {

  // -------------------------------------------------------------------
  // F7: scope ACL. Synthetic per-reader scopes derived from user_id:
  // deny-list beats allow-list; empty allow-list means everything
  // (MemoryScope.isAllowed). cannotLearn = {error} for even users;
  // canLearn = {} (everything) for user_id % 3 == 0 else
  // {purchase, view}.
  private def scopeAcl(s: SparkSession, dir: String): DataFrame = {
    val denyHit = (col("user_id") % 2 === 0) && (col("event_type") === "error")
    val allowAll = col("user_id") % 3 === 0
    val allowHit = col("event_type").isin("purchase", "view")
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (!denyHit && (allowAll || allowHit)).as("allowed"))
      .orderBy("event_id")
  }

  private val scopeAclSql =
    """SELECT event_id, user_id, event_type,
      |  (NOT (user_id % 2 = 0 AND event_type = 'error'))
      |    AND (user_id % 3 = 0 OR event_type IN ('purchase','view')) AS allowed
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // F9: query sanitization — the 4-step cascade over planted query
  // shapes (word-soup corpus has no sentence punctuation, so each
  // doc_id % 5 shape plants exactly one cascade path):
  //   0 short passthrough; 1 trailing question; 2 mid question with a
  //   statement after it; 3 long with a short final sentence; 4 long
  //   with no punctuation at all (hard tail truncation).
  // The "last question sentence" is `([^.!?]*\?)[^?]*$` — leftmost
  // match of question-then-no-more-questions ≡ the reverse-find in
  // QuerySanitizer.sanitize for sentences without internal punctuation
  // (true by construction here; ContractsSpec pins row-for-row
  // equality with the library cascade).
  private[operators] def sanitizePlanted(s: SparkSession, dir: String): DataFrame = {
    val rep = substring(repeat(concat(col("text"), lit(" ")), 8), 1, 220)
    val raw =
      when(col("doc_id") % 5 === 0, substring(col("text"), 1, 120))
        .when(col("doc_id") % 5 === 1,
          concat(rep, lit(". What does doc "), col("doc_id"), lit(" say about spark joins?")))
        .when(col("doc_id") % 5 === 2,
          concat(rep, lit(". Is doc "), col("doc_id"),
            lit(" about joins? It also covers scans and shuffles.")))
        .when(col("doc_id") % 5 === 3,
          concat(rep, lit(". Final note on doc "), col("doc_id"), lit(".")))
        .otherwise(substring(repeat(concat(col("text"), lit(" ")), 8), 1, 300))
    Tables.documents(s, dir).select(col("doc_id"), trim(raw).as("q"))
  }

  // The distributed pass runs the REFERENCE scalar cascade compiled
  // per row (graft.functions.expressions.SanitizeText) — the earlier
  // regexp_extract twin backtracked quadratically on terminator-free
  // soup (honest timing: ~10 s for this 5 000-row projection at
  // sf0.1; the compiled cascade is linear). The oracle still replays
  // the regex form, so the two formulations stay value-pinned against
  // each other on every verify run (plus ContractsSpec row-for-row).
  private def sanitizeQuery(s: SparkSession, dir: String): DataFrame =
    sanitizePlanted(s, dir)
      .select(col("doc_id"),
        ExpressionUtils.column(graft.functions.expressions.SanitizeText(
          ExpressionUtils.expression(col("q")))).as("sanitized"))
      .orderBy("doc_id")

  private val sanitizeQuerySql =
    """WITH r AS (
      |  SELECT doc_id, trim(CASE (doc_id % 5)
      |    WHEN 0 THEN substr(text, 1, 120)
      |    WHEN 1 THEN substr(repeat(text || ' ', 8), 1, 220)
      |      || '. What does doc ' || doc_id || ' say about spark joins?'
      |    WHEN 2 THEN substr(repeat(text || ' ', 8), 1, 220)
      |      || '. Is doc ' || doc_id || ' about joins? It also covers scans and shuffles.'
      |    WHEN 3 THEN substr(repeat(text || ' ', 8), 1, 220)
      |      || '. Final note on doc ' || doc_id || '.'
      |    ELSE substr(repeat(text || ' ', 8), 1, 300) END) AS q
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, q,
      |    trim(regexp_extract(q, '([^.!?]*\?)[^?]*$', 1)) AS lq,
      |    trim(regexp_extract(q, '([^.!?]+[.!?]?)\s*$', 1)) AS ls
      |  FROM r)
      |SELECT doc_id,
      |  CASE WHEN len(q) <= 200 THEN q
      |       WHEN len(lq) > 0 AND len(lq) <= 250 THEN lq
      |       WHEN len(ls) <= 250 THEN ls
      |       ELSE trim(right(q, 250)) END AS sanitized
      |FROM x ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // R5+R6: mode inference + preset configs. Planted keyword phrases per
  // doc_id % 7 (shape 6 plants keywords from two sets — precedence must
  // pick the earlier table entry); the inference CASE ladder AND the
  // oracle's VALUES table are both generated from Modes.keywordTable /
  // Modes.All, so query, oracle, and library share one source of truth.
  private val plantedKw = Seq(
    "why broken", "explore everything", "recall previously",
    "improve pattern", "similar related", "", "similar wrong")

  private[operators] def modePlanted(s: SparkSession, dir: String): DataFrame = {
    val kw = plantedKw.zipWithIndex.foldLeft(lit(""): Column) { case (acc, (p, i)) =>
      when(col("doc_id") % 7 === i, lit(p)).otherwise(acc)
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), trim(concat(substring(col("text"), 1, 40), lit(" "), kw)).as("q"))
  }

  private def modeInfer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = split(lower(col("q")), "\\W+")
    val modeName = Modes.keywordTable.foldRight(lit(Modes.Precise.name): Column) {
      case ((ks, m), acc) =>
        when(arrays_overlap(toks, typedlit(ks.toSeq.sorted)), lit(m.name)).otherwise(acc)
    }
    val dim = Modes.All.map { m0 =>
      val m = m0.normalized
      (m.name, m.topK.toLong, m.minScore, m.wSim, m.wRecency, m.wSuccess, m.wConfidence)
    }.toDF("mode", "top_k", "min_score", "w_sim", "w_recency", "w_success", "w_confidence")
    modePlanted(s, dir)
      .select(col("doc_id"), modeName.as("mode"))
      .join(broadcast(dim), "mode")
      .select("doc_id", "mode", "top_k", "min_score",
        "w_sim", "w_recency", "w_success", "w_confidence")
      .orderBy("doc_id")
  }

  private val modeInferSql: String = {
    val planted = plantedKw.zipWithIndex
      .map { case (p, i) => s"    WHEN $i THEN '$p'" }.mkString("\n")
    val ladder = Modes.keywordTable.map { case (ks, m) =>
      val lst = ks.toSeq.sorted.map(k => s"'$k'").mkString(", ")
      s"    WHEN list_has_any(toks, [$lst]) THEN '${m.name}'"
    }.mkString("\n")
    val values = Modes.All.map { m0 =>
      val m = m0.normalized
      s"  ('${m.name}', ${m.topK}::BIGINT, ${m.minScore}::DOUBLE, ${m.wSim}::DOUBLE, " +
        s"${m.wRecency}::DOUBLE, ${m.wSuccess}::DOUBLE, ${m.wConfidence}::DOUBLE)"
    }.mkString(",\n")
    s"""WITH r AS (
       |  SELECT doc_id, trim(substr(text, 1, 40) || ' ' || CASE (doc_id % 7)
       |$planted
       |    ELSE '' END) AS q
       |  FROM documents),
       |t AS (SELECT doc_id, regexp_split_to_array(lower(q), '\\W+') AS toks FROM r),
       |i AS (SELECT doc_id, CASE
       |$ladder
       |    ELSE '${Modes.Precise.name}' END AS mode FROM t),
       |m(mode, top_k, min_score, w_sim, w_recency, w_success, w_confidence) AS (VALUES
       |$values)
       |SELECT i.doc_id, i.mode, m.top_k, m.min_score,
       |  m.w_sim, m.w_recency, m.w_success, m.w_confidence
       |FROM i JOIN m USING (mode) ORDER BY i.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // R13: share provenance. Reader agent_0 inherits from agent_1 and
  // agent_2 (the readable set comes from the real MemoryScope); owners
  // derive from user_id; memories read from an inherited agent carry
  // shared_from = owner, own memories carry NULL.
  private val readerScope = graft.storage.MemoryScope(
    agent = "agent_0", inheritFrom = Set("agent_1", "agent_2"))

  private def shareProvenance(s: SparkSession, dir: String): DataFrame = {
    val owner = concat(lit("agent_"), (col("user_id") % 5).cast("string"))
    Tables.events(s, dir)
      .select(col("event_id"), owner.as("owner"))
      .filter(col("owner").isin(readerScope.readableAgents: _*))
      .withColumn("shared_from",
        when(col("owner") =!= readerScope.agent, col("owner")))
      .orderBy("event_id")
  }

  private val shareProvenanceSql: String = {
    val readable = readerScope.readableAgents.map(a => s"'$a'").mkString(", ")
    s"""WITH r AS (
       |  SELECT event_id, 'agent_' || (user_id % 5) AS owner FROM events)
       |SELECT event_id, owner,
       |  CASE WHEN owner <> '${readerScope.agent}' THEN owner END AS shared_from
       |FROM r WHERE owner IN ($readable) ORDER BY event_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // S11: token-capped prompt projection. Top-12 candidates per slot
  // (bounded window top-k — the distributed part), then the REAL
  // PostProcess.toPrompt renders each group's numbered context block
  // inside mapGroups (the greedy budget loop is sequential by nature;
  // per-group input is bounded, so this is O(k) per slot at any corpus
  // size). Oracle: recursive CTE replaying the same greedy loop.
  private val PromptBudget = 48
  private val PromptTopK = 12

  private def promptProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("slot").orderBy(col("score").desc, col("event_id"))
    val cand = Tables.events(s, dir)
      .select((col("user_id") % 8).as("slot"), col("event_id"),
        ((col("event_id") % 997).cast("double") / 1000.0).as("score"),
        concat(col("event_type"), lit("#"), col("event_id").cast("string"),
          expr("repeat('x', CAST(event_id % 40 AS INT))")).as("txt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PromptTopK)
    cand.select("slot", "event_id", "score", "txt")
      .as[(Long, Long, Double, String)]
      .groupByKey(_._1)
      .mapGroups { (slot, it) =>
        val cs = it.toSeq.sortBy(t => (-t._3, t._2))
          .map(t => PostProcess.Candidate(t._2, t._3, 0.0, t._4))
        val prompt = PostProcess.toPrompt(cs, PromptBudget)
        (slot, prompt, prompt.linesIterator.size.toLong - 1L)
      }
      .toDF("slot", "prompt", "n_included")
      .orderBy("slot")
  }

  private val promptProjectionSql =
    s"""WITH RECURSIVE cand AS (
       |  SELECT user_id % 8 AS slot, event_id,
       |    (event_id % 997)::DOUBLE / 1000.0 AS score,
       |    event_type || '#' || event_id || repeat('x', (event_id % 40)::INT) AS txt,
       |    row_number() OVER (PARTITION BY user_id % 8
       |      ORDER BY (event_id % 997)::DOUBLE / 1000.0 DESC, event_id) AS rn
       |  FROM events QUALIFY rn <= $PromptTopK),
       |mx AS (SELECT slot, max(rn) AS last_rn FROM cand GROUP BY slot),
       |rec AS (
       |  SELECT slot, 0 AS r, '# Relevant memories' || chr(10) AS sb, 1 AS i FROM mx
       |  UNION ALL
       |  SELECT rec.slot, rec.r + 1,
       |    CASE WHEN len(rec.sb || rec.i || '. [' || printf('%.3f', c.score) || '] '
       |             || c.txt || chr(10)) // 4 <= $PromptBudget
       |         THEN rec.sb || rec.i || '. [' || printf('%.3f', c.score) || '] '
       |             || c.txt || chr(10)
       |         ELSE rec.sb END,
       |    CASE WHEN len(rec.sb || rec.i || '. [' || printf('%.3f', c.score) || '] '
       |             || c.txt || chr(10)) // 4 <= $PromptBudget
       |         THEN rec.i + 1 ELSE rec.i END
       |  FROM rec JOIN cand c ON c.slot = rec.slot AND c.rn = rec.r + 1)
       |SELECT rec.slot, rec.sb AS prompt, (rec.i - 1)::BIGINT AS n_included
       |FROM rec JOIN mx ON mx.slot = rec.slot AND rec.r = mx.last_rn
       |ORDER BY rec.slot""".stripMargin

  // -------------------------------------------------------------------
  // J9: cross-verification consensus. Bounded top-8 candidates per
  // group; token sets of size 2-3; pairwise overlap |∩| / min(|a|,|b|)
  // ≥ 0.6 counts as a support vote; the reference category ladder
  // (verified ≥ half the others, uncertain > 0, else contradicted).
  // Pairs exist only inside (group, token) buckets — no cartesian.
  private val VerifyOverlap = 0.6
  private val VerifyQuorum = 0.5

  private def crossVerify(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("group_id").orderBy(col("value").desc, col("event_id"))
    val cand = Tables.events(s, dir)
      .select((col("user_id") % 25).as("group_id"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 8)
      .withColumn("toks",
        concat(
          array(col("event_type"),
            concat(lit("v"), floor(col("value") / 100).cast("long").cast("string"))),
          when(col("event_id") % 2 === 0,
            array(concat(lit("u"), (col("event_id") % 5).cast("string"))))
            .otherwise(array().cast("array<string>"))))
      .select(col("group_id"), col("event_id"), col("toks"), size(col("toks")).as("n_toks"))
    val tok = cand.select(col("group_id"), col("event_id"), col("n_toks"),
      explode(col("toks")).as("tok"))
    val pairs = tok.alias("a")
      .join(tok.alias("b"),
        col("a.group_id") === col("b.group_id") && col("a.tok") === col("b.tok") &&
          col("a.event_id") =!= col("b.event_id"))
      .groupBy(col("a.group_id").as("group_id"), col("a.event_id").as("event_id"),
        col("b.event_id").as("other_id"),
        col("a.n_toks").as("na"), col("b.n_toks").as("nb"))
      .agg(count(lit(1)).as("shared"))
    val votes = pairs
      .filter(col("shared").cast("double") / least(col("na"), col("nb")) >= VerifyOverlap)
      .groupBy("group_id", "event_id")
      .agg(count(lit(1)).as("support_votes"))
    val groupSize = cand.groupBy("group_id").agg(count(lit(1)).as("n_group"))
    cand.join(votes, Seq("group_id", "event_id"), "left")
      .join(groupSize, "group_id")
      .select(col("group_id"), col("event_id"),
        coalesce(col("support_votes"), lit(0L)).as("support_votes"),
        (col("n_group") - 1).as("others"))
      .withColumn("category",
        when(col("others") === 0, "unverifiable")
          .when(col("support_votes").cast("double") / col("others") >= VerifyQuorum, "verified")
          .when(col("support_votes") > 0, "uncertain")
          .otherwise("contradicted"))
      .select("group_id", "event_id", "support_votes", "category")
      .orderBy("group_id", "event_id")
  }

  private val crossVerifySql =
    s"""WITH cand AS (
       |  SELECT user_id % 25 AS group_id, event_id, event_type, value,
       |    row_number() OVER (PARTITION BY user_id % 25
       |      ORDER BY value DESC, event_id) AS rn
       |  FROM events QUALIFY rn <= 8),
       |ct AS (
       |  SELECT group_id, event_id,
       |    list_concat(
       |      [event_type, 'v' || floor(value / 100)::BIGINT],
       |      CASE WHEN event_id % 2 = 0 THEN ['u' || (event_id % 5)]
       |           ELSE [] END) AS toks
       |  FROM cand),
       |tok AS (
       |  SELECT group_id, event_id, len(toks)::BIGINT AS n_toks, unnest(toks) AS tok
       |  FROM ct),
       |pairs AS (
       |  SELECT a.group_id, a.event_id, b.event_id AS other_id,
       |    a.n_toks AS na, b.n_toks AS nb, count(*)::BIGINT AS shared
       |  FROM tok a JOIN tok b
       |    ON a.group_id = b.group_id AND a.tok = b.tok AND a.event_id <> b.event_id
       |  GROUP BY 1, 2, 3, 4, 5),
       |votes AS (
       |  SELECT group_id, event_id, count(*)::BIGINT AS support_votes
       |  FROM pairs WHERE shared::DOUBLE / least(na, nb) >= $VerifyOverlap
       |  GROUP BY 1, 2),
       |gs AS (SELECT group_id, count(*)::BIGINT AS n_group FROM cand GROUP BY 1)
       |SELECT c.group_id, c.event_id,
       |  coalesce(v.support_votes, 0)::BIGINT AS support_votes,
       |  CASE WHEN gs.n_group - 1 = 0 THEN 'unverifiable'
       |       WHEN coalesce(v.support_votes, 0)::DOUBLE / (gs.n_group - 1) >= $VerifyQuorum
       |         THEN 'verified'
       |       WHEN coalesce(v.support_votes, 0) > 0 THEN 'uncertain'
       |       ELSE 'contradicted' END AS category
       |FROM cand c
       |LEFT JOIN votes v ON v.group_id = c.group_id AND v.event_id = c.event_id
       |JOIN gs ON gs.group_id = c.group_id
       |ORDER BY c.group_id, c.event_id""".stripMargin

  // -------------------------------------------------------------------
  // F10: write guard. Strategies that became anti-patterns (error
  // buckets at ≥ 1.05× the mean bucket count — a relative threshold so
  // the guard discriminates at every SF) block new writes: incoming
  // signup strategies anti-join the blocked set, exactly the
  // learn-guard refusal shape. The blocked side is tiny (≤ 40 rows
  // after the aggregate) → broadcast both the scalar mean and the set.
  private def writeGuard(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val strategy = concat(lit("strat_"), (col("user_id") % 40).cast("string"))
    val bucketCounts = e.filter(col("event_type") === "error")
      .select(strategy.as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("n"))
    val mean = bucketCounts.agg(avg(col("n")).as("avg_n"))
    val blocked = bucketCounts.crossJoin(broadcast(mean))
      .filter(col("n").cast("double") >= lit(1.05) * col("avg_n"))
      .select("pattern")
    val candidates = e.filter(col("event_type") === "signup")
      .select(col("event_id"), strategy.as("strategy"))
    candidates.join(broadcast(blocked),
        candidates("strategy") === blocked("pattern"), "left_anti")
      .orderBy("event_id")
  }

  private val writeGuardSql =
    """WITH bc AS (
      |  SELECT 'strat_' || (user_id % 40) AS pattern, count(*) AS n
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |blocked AS (
      |  SELECT pattern FROM bc WHERE n::DOUBLE >= 1.05 * (SELECT avg(n) FROM bc)),
      |cand AS (
      |  SELECT event_id, 'strat_' || (user_id % 40) AS strategy
      |  FROM events WHERE event_type = 'signup')
      |SELECT event_id, strategy FROM cand
      |WHERE strategy NOT IN (SELECT pattern FROM blocked)
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // R3: per-type scoring rules + per-type top-k. Each memory type maps
  // its own success/confidence rule into the shared 4-factor score
  // (the Alma.retrieve branch rules), then a bounded window top-5 per
  // type — the union-of-typed-branches retrieve shape as one plan.
  private def perTypeScores(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val mtype = when(col("user_id") % 4 === 0, "heuristics")
      .when(col("user_id") % 4 === 1, "outcomes")
      .when(col("user_id") % 4 === 2, "knowledge")
      .otherwise("anti_patterns")
    val sc = (col("event_id") % 5).cast("double")
    val occ = when(col("event_id") % 8 === 0, lit(1L)).otherwise(col("event_id") % 8)
    val confBase = least(col("value") / 200.0, lit(1.0))
    val succ = when(col("memory_type") === "heuristics", sc / occ.cast("double"))
      .when(col("memory_type") === "outcomes",
        when(col("event_id") % 2 === 0, 1.0).otherwise(0.3))
      .when(col("memory_type") === "knowledge", lit(1.0))
      .otherwise(least(occ.cast("double") / 10.0, lit(1.0)))
    val conf = when(col("memory_type") === "outcomes", lit(1.0)).otherwise(confBase)
    val sim = least(col("value") / 200.0, lit(1.0))
    val rec = Scoring.recency(col("ts"))
    val scored = e.select(col("event_id"), col("ts"), col("value"), mtype.as("memory_type"))
      .withColumn("score",
        round(lit(0.4) * sim + lit(0.3) * rec + lit(0.2) * succ + lit(0.1) * conf, 6))
    val w = Window.partitionBy("memory_type").orderBy(col("score").desc, col("event_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("memory_type", "rk", "event_id", "score")
      .orderBy("memory_type", "rk")
  }

  private val perTypeScoresSql =
    """WITH base AS (
      |  SELECT event_id, ts::TIMESTAMP AS ts, value,
      |    CASE (user_id % 4) WHEN 0 THEN 'heuristics' WHEN 1 THEN 'outcomes'
      |         WHEN 2 THEN 'knowledge' ELSE 'anti_patterns' END AS memory_type,
      |    (event_id % 5)::DOUBLE AS sc,
      |    CASE WHEN event_id % 8 = 0 THEN 1 ELSE event_id % 8 END AS occ
      |  FROM events),
      |scored AS (
      |  SELECT event_id, memory_type,
      |    round(0.4 * least(value / 200.0, 1.0)
      |      + 0.3 * pow(0.5, ((epoch_us(TIMESTAMP '2024-03-01 00:00:00') - epoch_us(ts))::DOUBLE / 86400000000.0) / 30.0)
      |      + 0.2 * (CASE memory_type
      |          WHEN 'heuristics' THEN sc / occ::DOUBLE
      |          WHEN 'outcomes' THEN (CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE 0.3 END)
      |          WHEN 'knowledge' THEN 1.0
      |          ELSE least(occ::DOUBLE / 10.0, 1.0) END)
      |      + 0.1 * (CASE WHEN memory_type = 'outcomes' THEN 1.0
      |               ELSE least(value / 200.0, 1.0) END), 6) AS score
      |  FROM base),
      |ranked AS (
      |  SELECT memory_type, event_id, score,
      |    row_number() OVER (PARTITION BY memory_type
      |      ORDER BY score DESC, event_id) AS rk
      |  FROM scored)
      |SELECT memory_type, rk::BIGINT AS rk, event_id, score
      |FROM ranked WHERE rk <= 5 ORDER BY memory_type, rk""".stripMargin

  // -------------------------------------------------------------------
  // S1/S3/S5: storage round-trip. Heuristic rows derived from events
  // are batch-appended through the REAL MemoryStore (projectId-
  // partitioned parquet), scanned back through its declared-schema
  // read with partition pruning (projectId = 'p1') and a pushed
  // confidence predicate, then aggregated. The oracle computes the
  // same aggregate directly from events — any write/read infidelity
  // (schema drift, partition loss, double mangling) breaks the hash.
  private def storeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.internal.Scratch.dir(s, "q_store_roundtrip")
    val store = new graft.storage.MemoryStore(s, root)
    val rows = Tables.events(s, dir).select(
      concat(lit("h"), col("event_id").cast("string")).as("id"),
      concat(lit("agent_"), (col("user_id") % 5).cast("string")).as("agent"),
      concat(lit("p"), (col("user_id") % 3).cast("string")).as("projectId"),
      col("event_type").as("condition"),
      concat(lit("strat_"), (col("event_id") % 7).cast("string")).as("strategy"),
      round(least(col("value") / 200.0, lit(1.0)), 6).as("confidence"),
      (col("event_id") % 9).as("occurrenceCount"),
      (col("event_id") % 4).as("successCount"),
      col("ts").as("lastValidated"),
      col("ts").as("createdAt"),
      array().cast("array<float>").as("embedding"),
      map().cast("map<string,string>").as("metadata"))
    store.appendRows(rows, graft.storage.MemoryType.Heuristics)
    store.scan(graft.storage.MemoryType.Heuristics,
        projectId = Some("p1"), minConfidence = Some(0.25))
      .groupBy("agent", "condition")
      .agg(count(lit(1)).as("n"),
        round(sum("confidence"), 6).as("sum_conf"),
        sum("occurrenceCount").as("sum_occ"))
      .orderBy("agent", "condition")
  }

  private val storeRoundtripSql =
    """WITH h AS (
      |  SELECT 'agent_' || (user_id % 5) AS agent,
      |    'p' || (user_id % 3) AS project_id,
      |    event_type AS condition,
      |    round(least(value / 200.0, 1.0), 6) AS confidence,
      |    event_id % 9 AS occ
      |  FROM events)
      |SELECT agent, condition, count(*)::BIGINT AS n,
      |  round(sum(confidence), 6) AS sum_conf, sum(occ)::BIGINT AS sum_occ
      |FROM h WHERE project_id = 'p1' AND confidence >= 0.25
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // S9: benchmark JSON source round-trip. Nested question/haystack JSON
  // is generated from events, written, loaded back through the REAL
  // Ingestion.loadBenchmarkJson (schema inference + explode), and
  // aggregated; the oracle derives the same aggregate straight from
  // events, so a lossy explode or schema-probe bug breaks the hash.
  private def benchmarkSource(s: SparkSession, dir: String): DataFrame = {
    val root = graft.internal.Scratch.dir(s, "q_benchmark_source")
    val bucket = col("user_id") % 20
    Tables.events(s, dir)
      .select(
        concat(lit("q"), bucket.cast("string")).as("question_id"),
        concat(lit("what about bucket "), bucket.cast("string")).as("question"),
        concat(lit("s"), bucket.cast("string")).as("answer_session_id"),
        when(bucket % 4 === 0, "single-session-user")
          .when(bucket % 4 === 1, "multi-session")
          .when(bucket % 4 === 2, "temporal-reasoning")
          .otherwise("knowledge-update").as("question_type"),
        struct(
          concat(lit("s"), col("event_id").cast("string")).as("session_id"),
          concat(col("event_type"), lit(" "), col("event_id").cast("string")).as("text"))
          .as("session"))
      .groupBy("question_id", "question", "answer_session_id", "question_type")
      .agg(collect_list("session").as("haystack"))
      .write.json(root)
    graft.sources.Ingestion.loadBenchmarkJson(s, root)
      .groupBy("question_type")
      .agg(
        countDistinct("question_id").as("n_questions"),
        count(lit(1)).as("n_sessions"),
        sum(length(col("session_text"))).as("sum_text_len"))
      .orderBy("question_type")
  }

  private val benchmarkSourceSql =
    """WITH b AS (
      |  SELECT user_id % 20 AS bucket, event_id, event_type FROM events)
      |SELECT CASE (bucket % 4) WHEN 0 THEN 'single-session-user'
      |    WHEN 1 THEN 'multi-session' WHEN 2 THEN 'temporal-reasoning'
      |    ELSE 'knowledge-update' END AS question_type,
      |  count(DISTINCT bucket)::BIGINT AS n_questions,
      |  count(*)::BIGINT AS n_sessions,
      |  sum(length(event_type || ' ' || event_id))::BIGINT AS sum_text_len
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // Workflow scope filter (Alma.retrieveWithScope / context.py:128-167):
  // conjunctive coordinate match over a metadata MAP column — a tagged
  // row must match every set coordinate; an untagged row always passes
  // (getItem on a missing key → null → coalesce true; the reference
  // keeps legacy tables unfiltered). Coordinates are synthesized from
  // events; rows with event_id % 7 == 0 stay untagged. The filter runs
  // through the SAME map-getItem-coalesce expression shape
  // Alma.retrieveImpl compiles (ContractsSpec pins them equal).
  private[operators] def scopedRetrieval(s: SparkSession, dir: String): DataFrame = {
    val tagged = col("event_id") % 7 =!= 0
    val meta = when(tagged, map(
      lit("tenant_id"), concat(lit("t"), (col("user_id") % 3).cast("string")),
      lit("workflow_id"), col("event_type"),
      lit("run_id"), concat(lit("r"), (col("event_id") % 5).cast("string"))))
      .otherwise(map().cast("map<string,string>"))
    val ctx = graft.workflow.WorkflowContext(
      tenantId = Some("t1"), workflowId = Some("view"), runId = Some("r2"))
    val wf = ctx.scopeFilter(graft.workflow.RetrievalScope.Run).toMap
    val allowed = wf.toSeq.sortBy(_._1).map { case (k, v) =>
      coalesce(col("m").getItem(k) === lit(v), lit(true))
    }.reduce(_ && _)
    Tables.events(s, dir)
      .select(col("event_id"), meta.as("m"))
      .select(col("event_id"), size(col("m")).cast("long").as("n_tags"),
        allowed.as("allowed"))
      .orderBy("event_id")
  }

  private val scopedRetrievalSql =
    """SELECT event_id,
      |  CASE WHEN event_id % 7 <> 0 THEN 3 ELSE 0 END::BIGINT AS n_tags,
      |  CASE WHEN event_id % 7 <> 0 THEN
      |    ('t' || (user_id % 3)) = 't1' AND event_type = 'view'
      |      AND ('r' || (event_id % 5)) = 'r2'
      |  ELSE TRUE END AS allowed
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // Checkpoint cleanup (MemoryStore.cleanupCheckpoints / reference
  // checkpoint cleanup core.py:821-850): checkpoints synthesized from
  // events are written through the REAL store, keep-latest-2 per branch
  // runs against run1, and the surviving table aggregates per (run,
  // branch) — a wrong window frame, tiebreak, or anti-join breaks the
  // hash. Scale shape: the store keeps checkpoints as one versioned
  // sub-table per run, so the ranked side is bounded by one run AND the
  // cleanup's snapshot rewrite touches run1's partition only — run0's
  // committed snapshot is never read or rewritten (spec-pinned at the
  // filesystem level in CheckpointPartitionSpec).
  private def checkpointCleanup(s: SparkSession, dir: String): DataFrame = {
    val root = graft.internal.Scratch.dir(s, "q_checkpoint_cleanup")
    val store = new graft.storage.MemoryStore(s, root)
    val cks = Tables.events(s, dir).select(
      concat(lit("ck"), col("event_id").cast("string")).as("id"),
      concat(lit("run"), (col("user_id") % 2).cast("string")).as("runId"),
      col("event_type").as("nodeId"),
      concat(lit("b"), (col("event_id") % 3).cast("string")).as("branchId"),
      col("event_id").cast("long").as("sequenceNumber"),
      lit(null).cast("string").as("parentCheckpointId"),
      concat(lit("""{"v":"""), col("event_id").cast("string"), lit("}")).as("stateJson"),
      col("ts").as("createdAt"))
    store.appendRows(cks, graft.storage.MemoryType.Checkpoints)
    store.cleanupCheckpoints("run1", keepLatest = 2)
    store.checkpoints()
      .groupBy(col("runId").as("run_id"), col("branchId").as("branch_id"))
      .agg(count(lit(1)).as("n"),
        max("sequenceNumber").as("max_seq"),
        sum("sequenceNumber").as("sum_seq"))
      .orderBy("run_id", "branch_id")
  }

  private val checkpointCleanupSql =
    """WITH c AS (
      |  SELECT 'ck' || event_id AS id, 'run' || (user_id % 2) AS run_id,
      |    'b' || (event_id % 3) AS branch_id, event_id AS seq
      |  FROM events),
      |ranked AS (
      |  SELECT id, run_id, branch_id, seq,
      |    row_number() OVER (PARTITION BY branch_id ORDER BY seq DESC, id) AS rn
      |  FROM c WHERE run_id = 'run1'),
      |survivors AS (
      |  SELECT id, run_id, branch_id, seq FROM c WHERE run_id <> 'run1'
      |  UNION ALL
      |  SELECT id, run_id, branch_id, seq FROM ranked WHERE rn <= 2)
      |SELECT run_id, branch_id, count(*)::BIGINT AS n,
      |  max(seq)::BIGINT AS max_seq, sum(seq)::BIGINT AS sum_seq
      |FROM survivors GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_scope_acl", scopeAcl, Some(scopeAclSql)),
    Q("q_scoped_retrieval", scopedRetrieval, Some(scopedRetrievalSql)),
    Q("q_checkpoint_cleanup", checkpointCleanup, Some(checkpointCleanupSql)),
    Q("q_store_roundtrip", storeRoundtrip, Some(storeRoundtripSql)),
    Q("q_benchmark_source", benchmarkSource, Some(benchmarkSourceSql)),
    Q("q_sanitize_query", sanitizeQuery, Some(sanitizeQuerySql)),
    Q("q_mode_infer", modeInfer, Some(modeInferSql)),
    Q("q_share_provenance", shareProvenance, Some(shareProvenanceSql)),
    Q("q_prompt_projection", promptProjection, Some(promptProjectionSql)),
    Q("q_cross_verify", crossVerify, Some(crossVerifySql)),
    Q("q_write_guard", writeGuard, Some(writeGuardSql)),
    Q("q_per_type_scores", perTypeScores, Some(perTypeScoresSql)))
}
