package graft.retrieval

import graft.storage.{MemoryStore, MemoryType}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Progressive disclosure over the store (reference:
  * alma/retrieval/progressive.py:30-122 levels + slice,
  * :125-343 summary extraction, :465-511 fetch-on-demand).
  *
  * Summaries are level-dependent column projections (the reference's
  * SummaryExtractor formatting rules as `when` ladders); the
  * fetch-on-demand stage is a pushed-down point filter on the memory
  * table — at scale the id predicate prunes row groups via parquet
  * min/max stats — with a driver-side item cache like the reference's,
  * bounded because only explicitly-requested full items enter it, and
  * emptied whenever the store's write generation has moved since it was
  * filled. Batch fetches are ONE `isin` scan, not a per-id loop.
  */
final class Progressive(store: MemoryStore, maxSummaryLength: Int = 100) {

  import Progressive._

  private val cache = scala.collection.mutable.Map.empty[(String, String), Row]
  private var cacheGeneration = -1L

  /** The item cache, emptied first when the store was written since the
    * last fetch. The generation is read before the fetch's scan, so a
    * write racing the scan empties the cache on the next fetch.
    */
  private def freshItems(): scala.collection.mutable.Map[(String, String), Row] = {
    val g = store.writeGeneration
    if (g != cacheGeneration) { cache.clear(); cacheGeneration = g }
    cache
  }

  private def tableOf(memoryType: String): DataFrame = memoryType match {
    case MemoryType.Heuristics => store.heuristics().toDF()
    case MemoryType.Outcomes => store.outcomes().toDF()
    case MemoryType.Preferences => store.preferences().toDF()
    case MemoryType.Knowledge => store.knowledge().toDF()
    case MemoryType.AntiPatterns => store.antiPatterns().toDF()
    case other => throw new IllegalArgumentException(s"unknown memory type: $other")
  }

  /** Level-projected summaries for one memory type (REFERENCE /
    * SUMMARY / KEY_DETAILS semantics of progressive.py:136-341).
    */
  def summaries(memoryType: String, level: Int): DataFrame =
    summarize(tableOf(memoryType), memoryType, level, maxSummaryLength)

  /** Fetch one full item on demand, point-filtered, cached. */
  def fullItem(memoryType: String, id: String): Option[Row] = {
    val items = freshItems()
    items.get((memoryType, id)).orElse {
      val hit = tableOf(memoryType).filter(col("id") === id).take(1).headOption
      hit.foreach(r => items((memoryType, id)) = r)
      hit
    }
  }

  /** Batch fetch-on-demand: one isin-pruned scan for all uncached ids;
    * results come back in request order.
    */
  def fullItems(memoryType: String, ids: Seq[String]): Seq[Row] = {
    val items = freshItems()
    val missing = ids.filterNot(id => items.contains((memoryType, id)))
    if (missing.nonEmpty) {
      tableOf(memoryType).filter(col("id").isin(missing: _*)).collect()
        .foreach(r => items((memoryType, r.getAs[String]("id"))) = r)
    }
    ids.flatMap(id => items.get((memoryType, id)))
  }

  def clearCache(): Unit = cache.clear()
}

object Progressive {

  /** Disclosure levels (progressive.py:30-37). */
  val Reference = 1
  val Summary = 2
  val KeyDetails = 3

  private def truncate(c: org.apache.spark.sql.Column, max: Int) =
    when(length(c) > max, concat(substring(c, 1, max - 3), lit("...")))
      .otherwise(c)

  /** The SummaryExtractor rules as a projection: summary + relevance
    * hint per level, chars/4 token estimate (+10 overhead like the
    * reference).
    */
  def summarize(df: DataFrame, memoryType: String, level: Int, maxLen: Int = 100): DataFrame = {
    val (summary, relevance) = memoryType match {
      case MemoryType.Heuristics =>
        val full = concat(lit("When "), col("condition"), lit(", "), col("strategy"))
        val s =
          if (level == Reference) concat(lit("Heuristic: "), substring(col("condition"), 1, 30), lit("..."))
          else if (level == Summary) truncate(full, maxLen)
          else full
        val rate = round(when(col("occurrenceCount") === 0, 0.0)
          .otherwise(col("successCount").cast("double") / col("occurrenceCount")) * 100, 0).cast("int")
        val r =
          if (level == Reference) lit("Learned pattern")
          else if (level == Summary)
            concat(lit("Success rate: "), rate, lit("%, Confidence: "),
              round(col("confidence") * 100, 0).cast("int"), lit("%"))
          else concat(lit("Used "), col("occurrenceCount"), lit("x, "), rate, lit("% success"))
        (s, r)
      case MemoryType.Outcomes =>
        val status = when(col("success"), lit("Success")).otherwise(lit("Failed"))
        val s =
          if (level == Reference) concat(lit("Outcome: "), col("taskType"), lit(" ("), status, lit(")"))
          else if (level == Summary)
            truncate(concat(status, lit(": "), col("taskDescription"), lit(" using "), col("strategyUsed")), maxLen)
          else concat(status, lit(": "), col("taskDescription"), lit("\nStrategy: "), col("strategyUsed"))
        val r =
          if (level == Reference) concat(col("taskType"), lit(" task"))
          else if (level == Summary) concat(col("taskType"), lit(" - "), status)
          else concat(col("taskType"), lit(" task outcome"))
        (s, r)
      case MemoryType.Knowledge =>
        val s =
          if (level == Reference) concat(lit("Knowledge: "), substring(col("fact"), 1, 30), lit("..."))
          else if (level == Summary) truncate(concat(lit("["), col("domain"), lit("] "), col("fact")), maxLen)
          else concat(lit("["), col("domain"), lit("] "), col("fact"))
        (s, concat(col("domain"), lit(" knowledge")))
      case MemoryType.AntiPatterns =>
        val s =
          if (level == Reference) concat(lit("Anti-pattern: "), substring(col("pattern"), 1, 30), lit("..."))
          else if (level == Summary) truncate(concat(lit("Avoid: "), col("pattern")), maxLen)
          else concat(lit("Avoid: "), col("pattern"), lit("\nInstead: "), col("betterAlternative"))
        (s, concat(lit("Seen "), col("occurrenceCount"), lit("x")))
      case MemoryType.Preferences =>
        val s =
          if (level == Reference) concat(lit("Preference: "), col("category"))
          else truncate(concat(lit("["), col("category"), lit("] "), col("preference")), maxLen)
        (s, concat(col("category"), lit(" preference")))
      case other => throw new IllegalArgumentException(s"unknown memory type: $other")
    }
    df.select(col("id"), lit(memoryType).as("memory_type"),
      summary.as("summary"), relevance.as("relevance_hint"),
      (length(summary) / 4 + 10).cast("long").as("estimated_tokens"),
      lit(level).as("disclosure_level"))
  }
}
