package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Crash-safe writer for the bench/runner JSON artifacts.
  *
  * Every runner publishes its full result JSON to a well-known path
  * (`bench/latest_*.json`) precisely because stdout gets truncated; a
  * direct overwrite of that path can itself be interrupted mid-write
  * and leave a truncated artifact — the exact failure mode the files
  * exist to avoid. Write the bytes to a sibling temp file and move it
  * into place atomically; readers see either the old artifact or the
  * complete new one, never a partial write.
  */
object ArtifactWriter {

  private def writeAtomic(path: String, content: String): Unit = {
    val p = Paths.get(path).toAbsolutePath
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, "." + p.getFileName.toString + ".", ".tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally {
      Files.deleteIfExists(tmp)
    }
  }

  /** [[writeAtomic]] `content` plus a newline to `path`; a failure is
    * reported on stderr under `[tag]` instead of failing the run, which
    * has already printed its result line.
    */
  def publish(tag: String, path: String, content: String): Unit =
    try writeAtomic(path, content + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[$tag] could not write $path: ${e.getMessage}")
    }

  /** A metric rounded to 6 decimals for the result JSON. */
  def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
}
