package graft.operators

import graft.Q
import graft.io.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-pattern pack: the physical techniques a 100 TB deployment
  * leans on, expressed as oracle-checkable queries.
  *
  *  - IVF ANN: train coarse centroids → assign every vector to its
  *    nearest cell → probe only the query's cell (the scale path beyond
  *    brute-force kNN; at cluster scale the cell id is the partition
  *    key so a probe reads one partition).
  *  - Salted aggregation: two-stage (salt → partial → final) combine
  *    for skewed keys — result identical to the direct groupBy, but no
  *    single reducer ever sees a hot key's full row set.
  */
object ScalePatterns {

  // -------------------------------------------------------------------
  // IVF: centroids per label cell, squared-distance assignment with a
  // deterministic (rounded dist, label) argmin, then probe = exact
  // cosine top-5 inside the query's cell only.
  private def annIvfProbe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val centroids = e.select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
        col("col").cast("double").as("x"))
      .groupBy("label", "pos").agg(avg("x").as("c"))
    // Centroids as dense vectors (pos-ordered), broadcast: the distance
    // stage is then vectors × |cells| rows each folding one 64-dim
    // array — not an exploded (vector·dim) ⋈ centroid join whose
    // aggregate would shuffle |vectors|·|cells|·dim rows.
    val cent = centroids.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x("c")).as("cvec"))
    val dist = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"),
        round(aggregate(
          zip_with(col("embedding"), col("cvec"),
            (a, b) => pow(a.cast("double") - b, lit(2))),
          lit(0.0), (acc, x) => acc + x), 6).as("dist2"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist2"), col("label"))
    val assigned = dist
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label").as("cell"))
      .localCheckpoint(true) // assignment is read twice (probe cell + candidate filter)
    val qRow = e.filter(col("vec_id") === 0).select("embedding").head()
    val q = qRow.getSeq[Float](0).toArray
    val qCell = assigned.filter(col("vec_id") === 0).select("cell").head().getInt(0)
    e.join(assigned.filter(col("cell") === qCell), Seq("vec_id"))
      .select(col("vec_id"), col("cell"),
        round(VectorFunctions.cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  private val annIvfProbeSql =
    """WITH el AS (
      |  SELECT vec_id, r.range AS pos, embedding[r.range]::DOUBLE AS x
      |  FROM embeddings, range(1, 65) r),
      |cent AS (
      |  SELECT label, r.range AS pos, avg(embedding[r.range]::DOUBLE) AS c
      |  FROM embeddings, range(1, 65) r GROUP BY label, pos),
      |dist AS (
      |  SELECT el.vec_id, cent.label, round(sum(pow(el.x - cent.c, 2)), 6) AS dist2
      |  FROM el JOIN cent USING (pos)
      |  GROUP BY el.vec_id, cent.label),
      |assigned AS (
      |  SELECT vec_id, label AS cell FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY dist2, label) AS rn
      |    FROM dist) t
      |  WHERE rn = 1),
      |q AS (
      |  SELECT e.embedding::DOUBLE[] AS qv, a.cell AS qcell
      |  FROM embeddings e JOIN assigned a USING (vec_id)
      |  WHERE e.vec_id = 0)
      |SELECT e.vec_id, a.cell,
      |  round(list_cosine_similarity(e.embedding::DOUBLE[], (SELECT qv FROM q)), 4) AS sim
      |FROM embeddings e
      |JOIN assigned a USING (vec_id)
      |WHERE a.cell = (SELECT qcell FROM q)
      |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin

  // -------------------------------------------------------------------
  // Salted two-stage aggregation: identical result to a direct groupBy;
  // the salt spreads any hot key across 8 partial groups first.
  private def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val partial = Tables.events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(8)))
      .groupBy("event_type", "salt")
      .agg(sum("value").as("psum"), count(lit(1)).as("pcnt"))
    partial.groupBy("event_type")
      .agg(round(sum("psum"), 2).as("total_value"),
        sum("pcnt").as("cnt"))
      .orderBy("event_type")
  }

  private val saltedAggSql =
    """SELECT event_type, round(sum(value), 2) AS total_value,
      |  count(*)::BIGINT AS cnt
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // Salted skewed JOIN (the companion to the salted aggregation): 40%
  // of fact rows share one hot key; the fact side carries a
  // deterministic salt and the dim side is replicated once per salt,
  // so the hot key spreads across 8 tasks instead of one. Result is
  // identical to the unsalted join (the oracle). The shuffle-hash hint
  // is the point of the demo, not a forced optimization: a 98-key dim
  // would broadcast here, but the pattern exists for dims too large to
  // broadcast — at that size the join shuffles, and THEN the salt is
  // what saves the hot key's task.
  private def saltedJoin(s: SparkSession, dir: String): DataFrame = {
    val salts = 8
    val k = when(col("event_id") % 5 < 2, lit("hot"))
      .otherwise(concat(lit("k"), (col("event_id") % 97).cast("string")))
    val fact = Tables.events(s, dir)
      .select(col("event_id"), col("value"), k.as("k"),
        pmod(col("event_id"), lit(salts)).as("salt"))
    // Integer weight + cent-scaled values keep the weighted sum in
    // exact integer arithmetic — float sums would depend on addition
    // order across the salted partials and flap the oracle hash.
    val dim = fact.select("k").distinct()
      .withColumn("weight",
        ((length(col("k")) * 3 + ascii(substring(col("k"), 2, 1))) % 100).cast("long"))
    val dimSalted = dim.select(col("k"), col("weight"),
      explode(sequence(lit(0L), lit(salts - 1L))).as("salt"))
    fact.join(dimSalted.hint("shuffle_hash"), Seq("k", "salt"))
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100, 0).cast("long") * col("weight")).as("wsum_scaled"))
      .orderBy("k")
  }

  private val saltedJoinSql =
    """WITH f AS (
      |  SELECT event_id, value,
      |    CASE WHEN event_id % 5 < 2 THEN 'hot'
      |         ELSE 'k' || (event_id % 97) END AS k
      |  FROM events),
      |d AS (
      |  SELECT DISTINCT k,
      |    ((length(k) * 3 + ascii(substr(k, 2, 1))) % 100)::BIGINT AS weight
      |  FROM f)
      |SELECT f.k, count(*)::BIGINT AS cnt,
      |  sum(round(f.value * 100)::BIGINT * d.weight)::BIGINT AS wsum_scaled
      |FROM f JOIN d USING (k) GROUP BY f.k ORDER BY f.k""".stripMargin

  // -------------------------------------------------------------------
  // q_kmeans_train — distributed Lloyd's algorithm, the real "train the
  // coarse quantizer" step behind IVF (the label-centroid codebooks
  // elsewhere are the assignment-given shortcut). Two deterministic
  // iterations from fixed seeds (vec_id < k): each iteration is
  //   assign:  ONE compiled argmin kernel call per row against the
  //            broadcast codebook (NearestCellSq) — a shuffle-free
  //            projection; no candidate row ever exists
  //   update:  one map-side-combined (cid, pos) average whose exchange
  //            carries ≤ k·dim rows regardless of corpus size
  // — the canonical distributed k-means shape, with the k-inflated
  // candidate frame eliminated outright rather than merely collapsed
  // before its exchange. Centroid elements round to 6
  // decimals each iteration so both engines iterate from bit-identical
  // codebooks. Output: the final codebook exploded to
  // (cid, size, pos, c) rows — fully value-pinned by the oracle.
  private[operators] val KmeansK = 10
  private val KmeansIters = 2

  /** Per-key mean vectors of a float-embedding frame, elements rounded
    * to 6 decimals — THE centroid formula, shared by the Lloyd update
    * here and Selection's SemDeDup codebook so the rounding/ordering
    * contract both oracles pin exists in one copy.
    */
  private[operators] def meanCentroids(df: DataFrame, key: Column,
      vec: Column, outKey: String): DataFrame =
    df.select(key.as(outKey), posexplode(vec))
      .groupBy(col(outKey), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).as("c"))
      .groupBy(outKey)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cvec"))

  /** The Lloyd loop itself: returns (final codebook, final assignment).
    * The assignment keeps its assign-time `dist2` so callers (and the
    * monotonicity spec) can audit inertia per iteration count (Catalyst
    * prunes the column out of consumers that never read it, and with it
    * the kernel's second evaluation).
    *
    * Assignment is ONE compiled kernel call per row
    * ([[VectorFunctions.nearestCellSq]]): the k-candidate frame never
    * exists, so the assign step is a shuffle-free projection — strictly
    * tighter than the previous map-side-combined `min(struct(dist2,
    * cid, …))` argmin, which still built and scored n·k interpreted
    * HOF candidates per pass even though its exchange was one row per
    * vector. Each iteration's update collects the ≤ k·dim rounded
    * centroid rows to the driver (the [[QualityFilters]] codebook
    * pattern — bounded by construction) and re-broadcasts them into
    * the next assign kernel; the returned codebook frame is rebuilt
    * from those SAME rounded values as a local relation, so consuming
    * it never replays the training chain. The declarative twin
    * (`ParityTwins.kmeansFitDeclarative`, in the specs) is parity-pinned
    * by CentroidKernelSpec.
    */
  private[operators] def kmeansFit(s: SparkSession, dir: String,
      iters: Int): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    var cb: Array[(Long, Array[Double])] = e.filter(col("vec_id") < KmeansK)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    var asg: DataFrame = e // placeholder; overwritten by the first iteration
    for (_ <- 1 to iters) {
      val nc = VectorFunctions.nearestCellSq(
        col("embedding"), cb.map(_._1), cb.map(_._2))
      asg = e.select(col("vec_id"), col("embedding"),
        nc.getField("cid").as("cid"), nc.getField("dist2").as("dist2"))
      cb = meanCentroids(asg, col("cid"), col("embedding"), "cid")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    }
    val cent = s.createDataFrame(
      java.util.Arrays.asList(cb.map { case (cid, cv) =>
        org.apache.spark.sql.Row(cid, cv.toSeq) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false))))
    (cent, asg)
  }

  private def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val (cent, asg) = kmeansFit(s, dir, KmeansIters)
    val sizes = asg.groupBy("cid").agg(count(lit(1)).as("size"))
    cent.select(col("cid"), posexplode(col("cvec")))
      .select(col("cid"), (col("pos") + 1).cast("long").as("pos"), col("col").as("c"))
      .join(sizes, Seq("cid"))
      .select("cid", "size", "pos", "c")
      .orderBy("cid", "pos")
  }

  /** The 2-iteration Lloyd chain as oracle CTEs (through `a2` = the
    * final assignment and `c2` = the final codebook) — shared by the
    * training query and the kmeans-probed ANN so the iteration formula
    * exists in one copy.
    */
  private[operators] val kmeansCteSql =
    s"""el AS (
       |  SELECT vec_id, r.range AS pos, embedding[r.range]::DOUBLE AS x
       |  FROM embeddings, range(1, 65) r),
       |c0 AS (
       |  SELECT vec_id::BIGINT AS cid, r.range AS pos, embedding[r.range]::DOUBLE AS c
       |  FROM embeddings, range(1, 65) r WHERE vec_id < $KmeansK),
       |d1 AS (
       |  SELECT el.vec_id, c0.cid, round(sum(pow(el.x - c0.c, 2)), 6) AS dist2
       |  FROM el JOIN c0 USING (pos) GROUP BY 1, 2),
       |a1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
       |    FROM d1) WHERE rn = 1),
       |c1 AS (
       |  SELECT a1.cid, el.pos, round(avg(el.x), 6) AS c
       |  FROM a1 JOIN el USING (vec_id) GROUP BY 1, 2),
       |d2 AS (
       |  SELECT el.vec_id, c1.cid, round(sum(pow(el.x - c1.c, 2)), 6) AS dist2
       |  FROM el JOIN c1 USING (pos) GROUP BY 1, 2),
       |a2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
       |    FROM d2) WHERE rn = 1),
       |c2 AS (
       |  SELECT a2.cid, el.pos, round(avg(el.x), 6) AS c
       |  FROM a2 JOIN el USING (vec_id) GROUP BY 1, 2),
       |sizes AS (SELECT cid, count(*)::BIGINT AS size FROM a2 GROUP BY 1)""".stripMargin

  private val kmeansTrainSql =
    s"""WITH $kmeansCteSql
       |SELECT c2.cid, sizes.size, c2.pos::BIGINT AS pos, c2.c
       |FROM c2 JOIN sizes USING (cid) ORDER BY cid, pos""".stripMargin

  // -------------------------------------------------------------------
  // q_ann_ivf_kmeans — the trained-codebook probe closing the IVF loop:
  // q_kmeans_train is the trainer, this is the consumer. Probe = the
  // query vector's Lloyd cell only (cell id from the final assignment),
  // exact cosine top-5 inside it. Same scale shape as q_ann_ivf_probe —
  // at cluster scale the cell id is the partition key and a probe reads
  // one partition — but the cells come from the trained codebook, not
  // the label shortcut.
  private def annIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (_, asgRaw) = kmeansFit(s, dir, KmeansIters)
    // assignment is read twice (query cell + candidate filter)
    val asg = asgRaw.select("vec_id", "cid").localCheckpoint(true)
    val q = e.filter(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    val qCell = asg.filter(col("vec_id") === 0).select("cid").head().getLong(0)
    e.join(asg.filter(col("cid") === qCell), Seq("vec_id"))
      .select(col("vec_id"), col("cid").as("cell"),
        round(VectorFunctions.cosineConst(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  private val annIvfKmeansSql =
    s"""WITH $kmeansCteSql,
       |q AS (
       |  SELECT e.embedding::DOUBLE[] AS qv, a.cid AS qcell
       |  FROM embeddings e JOIN a2 a USING (vec_id)
       |  WHERE e.vec_id = 0)
       |SELECT e.vec_id, a.cid AS cell,
       |  round(list_cosine_similarity(e.embedding::DOUBLE[], (SELECT qv FROM q)), 4) AS sim
       |FROM embeddings e
       |JOIN a2 a USING (vec_id)
       |WHERE a.cid = (SELECT qcell FROM q)
       |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_ann_ivf_probe", annIvfProbe, Some(annIvfProbeSql)),
    Q("q_kmeans_train", kmeansTrain, Some(kmeansTrainSql)),
    Q("q_ann_ivf_kmeans", annIvfKmeans, Some(annIvfKmeansSql)),
    Q("q_salted_agg", saltedAgg, Some(saltedAggSql)),
    Q("q_salted_join", saltedJoin, Some(saltedJoinSql)))
}
