package graft.graph

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal property graph over two DataFrames — the Spark expression of
  * the reference's graph store (reference: alma/graph/store.py:29-74
  * model; :535-560 as-of validity filter; :561-676 BFS traversal).
  *
  * Entities and relationships are plain Datasets; as-of queries are
  * range predicates (pushed to the scan); traversal is iterative
  * frontier ⋈ edges joins with lineage truncation per hop — hops are
  * bounded (≤ 3 in the reference), so this is a fixed number of
  * bucket-local joins at any scale.
  */
final case class Entity(
    id: String,
    name: String,
    entityType: String,
    properties: Map[String, String])

final case class Relationship(
    id: String,
    sourceId: String,
    targetId: String,
    relationType: String,
    confidence: Double,
    validFrom: Option[Timestamp],
    validTo: Option[Timestamp])

final class GraphStore(
    val entities: Dataset[Entity],
    val relationships: Dataset[Relationship]) {

  private val spark = entities.sparkSession
  import spark.implicits._

  /** J8: relationships valid at time T —
    * `valid_from ≤ T AND (valid_to IS NULL OR T ≤ valid_to)`
    * (store.py:535-560; null valid_from = always valid).
    */
  def asOf(t: Timestamp): Dataset[Relationship] =
    relationships.filter { r =>
      r.validFrom.forall(!_.after(t)) && r.validTo.forall(!_.before(t))
    }

  /** Latest relationship version per (source, target, type) — the
    * as-of-latest window form (SURVEY J8).
    */
  def latestPerEdge(): DataFrame = {
    val w = Window.partitionBy("sourceId", "targetId", "relationType")
      .orderBy(col("validFrom").desc_nulls_last, col("id"))
    relationships.toDF()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** J7: BFS from seed entity ids, ≤ maxHops, optionally filtered to a
    * relation type. Returns (entity_id, hop) with the minimum hop
    * count. Each hop is one join of the (small) frontier against the
    * edge table — broadcast when the frontier is small.
    */
  def bfs(seeds: Seq[String], maxHops: Int, relationType: Option[String] = None): DataFrame =
    bfsFrom(seeds.toDF("entity_id"), maxHops, relationType)

  /** BFS whose seed frontier is itself a DataFrame (one `entity_id`
    * column) — the form every derived query should use: the seed set
    * never visits the driver, so a predicate that matches millions of
    * entities seeds the traversal as data, not as a collected list.
    */
  def bfsFrom(seeds: DataFrame, maxHops: Int, relationType: Option[String]): DataFrame =
    traverse(seeds, maxHops, relationType)(_.select(col("dst").as("entity_id")).distinct())

  /** The BFS loop both traversals share. The hop-0 visited set is the
    * distinct seeds with `carried` columns; `step` projects the
    * frontier ⋈ edges rows (`src`, `dst` and the frontier's columns) to
    * ONE row per reached entity, carried columns included. Each hop
    * drops the already-visited entities and is materialized once.
    */
  private def traverse(seeds: DataFrame, maxHops: Int, relationType: Option[String],
      carried: Column*)(step: DataFrame => DataFrame): DataFrame = {
    val edges0 = relationType
      .map(t => relationships.filter(col("relationType") === t))
      .getOrElse(relationships)
      .select(col("sourceId").as("src"), col("targetId").as("dst"))
    // Undirected traversal, like the reference's in-memory BFS.
    val edges = edges0.union(edges0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)

    val seed = seeds.select(col("entity_id")).distinct()
      .select(Seq(col("entity_id"), lit(0).as("hop")) ++ carried: _*)
    val cols = seed.columns.toSeq.map(col)
    var visited = seed.localCheckpoint(true)
    var frontier = visited
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val next = step(frontier.join(edges, col("entity_id") === col("src")))
        .join(visited.select(col("entity_id").as("seen")),
          col("entity_id") === col("seen"), "left_anti")
        .withColumn("hop", lit(hop))
        .select(cols: _*)
        .localCheckpoint(true)
      // The union's children are BOTH already materialized (seed
      // checkpoint + per-hop frontier checkpoints), so re-checkpointing
      // the union would only copy every visited row into fresh blocks
      // each hop — O(V·hops) pure barrier cost with no re-derivation to
      // save (the r16 calibration: checkpoint only when the replicated
      // subtree does work above its reusable exchange). The per-hop
      // anti-join and the final sort read the lazy ≤(maxHops+1)-leg
      // union of those blocks directly.
      visited = visited.union(next)
      frontier = next
    }
    visited.orderBy("hop", "entity_id")
  }

  /** BFS with path collection (store.py:561-676 returns the traversal
    * path per reached entity, not just the hop count): each frontier
    * row carries its path as an array column, extended per hop. One
    * deterministic path per entity — minimum hop, then lexicographically
    * smallest path. Paths are bounded by maxHops (≤ 3 in the
    * reference), so the array column stays tiny at any corpus scale.
    */
  def bfsPaths(seeds: Seq[String], maxHops: Int, relationType: Option[String] = None): DataFrame =
    bfsPathsFrom(seeds.toDF("entity_id"), maxHops, relationType)

  /** Path-collecting BFS seeded by a DataFrame frontier (see
    * [[bfsFrom]]).
    */
  def bfsPathsFrom(seeds: DataFrame, maxHops: Int, relationType: Option[String]): DataFrame = {
    val w = Window.partitionBy("entity_id").orderBy("path")
    traverse(seeds, maxHops, relationType, array(col("entity_id")).as("path"))(
      _.select(col("dst").as("entity_id"), concat(col("path"), array(col("dst"))).as("path"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn"))
  }

  /** Neighborhood query: find entities by name/type, traverse, return
    * reached entities with their hop (the reference's graph query
    * surface, store.py:121-134). The matched seed set stays a DataFrame
    * all the way into the BFS frontier — a broad pattern at 100 TB
    * never materializes on the driver.
    */
  def query(namePattern: String, maxHops: Int): DataFrame = {
    val seeds = entities.filter(col("name").rlike(namePattern))
      .select(col("id").as("entity_id"))
    bfsFrom(seeds, maxHops, None)
      .join(entities.toDF(), col("entity_id") === col("id"))
      .select("entity_id", "hop", "name", "entityType")
      .orderBy("hop", "entity_id")
  }
}
