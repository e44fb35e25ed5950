package graft.internal

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** The one place queries that write intermediate tables put them: a
  * directory per (session, name) under the application's
  * [[SparkFiles.getRootDirectory]], which Spark creates per
  * SparkContext and deletes when it stops. Two applications, or two
  * sessions of one application, therefore never share (or delete) each
  * other's files, and nothing outlives the application.
  */
private[graft] object Scratch {

  /** The directory of (session, name); no side effect. */
  def path(s: SparkSession, name: String): String = new Path(SparkFiles.getRootDirectory(),
    s"graft-scratch/${org.apache.spark.sql.graft.SessionBridge.id(s)}/$name").toString

  /** [[path]], emptied: what an earlier call with the same (session,
    * name) wrote there is deleted, so the caller writes from scratch.
    */
  def dir(s: SparkSession, name: String): String = {
    val p = new Path(path(s, name))
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }
}
