package graft.storage

import java.sql.Timestamp

import graft.workflow.Checkpoint
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Shared builders for the checkpoint-storage specs — ONE definition
  * of the row shape and of the on-disk layout of a store written before
  * per-run partitions (the root table), so a change to either contract
  * cannot update one spec and silently leave another testing the old
  * layout.
  */
object CheckpointFixtures {

  def ck(id: String, run: String, branch: String, seq: Long): Checkpoint =
    Checkpoint(id, run, "node", branch, seq, None, s"""{"v":$seq}""",
      new Timestamp(1700000000000L + seq))

  /** Write a store from before the per-run layout: one versioned
    * snapshot directly under the checkpoints root plus a root `_CURRENT`
    * marker — exactly what commitSnapshot produced then, and what the
    * store now serves as the checkpoint root table. Returns the
    * checkpoints root path.
    */
  def writeLegacy(spark: SparkSession, root: String, rows: Seq[Checkpoint],
      snapName: String = "snap_000001_deadbeef"): String = {
    import spark.implicits._
    val ckRoot = s"$root/${MemoryType.Checkpoints}"
    rows.toDS().toDF().write.parquet(s"$ckRoot/$snapName")
    val fs = new HPath(ckRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new HPath(s"$ckRoot/_CURRENT"), true)
    try out.write(snapName.getBytes("UTF-8")) finally out.close()
    ckRoot
  }
}
