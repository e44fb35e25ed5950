package graft.storage

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path => HPath, RawLocalFileSystem}

/** Test-only fault-injecting local filesystem, registered under the
  * `flaky://` scheme ([[FlakyFs.register]]). Faults are driven by
  * process-global substring toggles (Hadoop instantiates and caches the
  * filesystem reflectively, so instance state can't be handed in):
  *
  *  - [[FlakyFs.failListOf]]: `listStatus` on a matching path throws a
  *    plain (non-FileNotFound) IOException — a transient listing
  *    failure.
  *  - [[FlakyFs.failListOnceOf]]: the same, for the first matching
  *    listing only (the toggle clears itself) — a failure the next
  *    listing no longer sees.
  *  - [[FlakyFs.failOpenOf]]: `open` on a matching path throws a plain
  *    IOException — an unreadable, not a missing, file.
  *  - [[FlakyFs.countOpensOf]]: `open` on a matching path counts into
  *    [[FlakyFs.opens]] — the file I/O a reader pays.
  *  - [[FlakyFs.renameFailOf]]: `rename` FROM a matching source
  *    returns false without moving anything — the legal "rename
  *    failed" signal many object-store adapters use instead of
  *    throwing.
  *
  * Scoping contract: the toggles are process-global (and Hadoop caches
  * the FileSystem instance process-wide), so every match string MUST
  * embed a path unique to the test (its suite's temporary directory) —
  * a bare substring would bleed faults into unrelated suites if
  * ScalaTest ever ran them in parallel in one JVM. Fault-injecting test
  * bodies additionally run under [[FlakyFs.locked]], which serializes
  * them on the companion: the build currently runs suites serially, but
  * the lock makes the assumption enforced rather than ambient.
  */
class FlakyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")

  private def matches(toggle: String, p: HPath): Boolean =
    toggle != null && p.toString.contains(toggle)

  override def listStatus(f: HPath): Array[FileStatus] = {
    if (matches(FlakyFs.failListOf, f))
      throw new java.io.IOException(s"injected transient listing failure: $f")
    if (matches(FlakyFs.failListOnceOf, f)) {
      FlakyFs.failListOnceOf = null
      throw new java.io.IOException(s"injected one-off listing failure: $f")
    }
    // Plain statuses: the local ones load their permissions lazily
    // through java.io.File, which rejects a flaky:// path (a recursive
    // `listFiles` asks for them).
    super.listStatus(f).map(st => new FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath))
  }

  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    if (matches(FlakyFs.failOpenOf, f))
      throw new java.io.IOException(s"injected open failure: $f")
    if (matches(FlakyFs.countOpensOf, f)) FlakyFs.opens.incrementAndGet(): Unit
    super.open(f, bufferSize)
  }

  override def rename(src: HPath, dst: HPath): Boolean =
    if (matches(FlakyFs.renameFailOf, src)) false
    else super.rename(src, dst)
}

object FlakyFs {
  @volatile var failListOf: String = null
  @volatile var failListOnceOf: String = null
  @volatile var failOpenOf: String = null
  @volatile var countOpensOf: String = null
  @volatile var renameFailOf: String = null
  val opens = new AtomicInteger
  def clear(): Unit = {
    failListOf = null; failListOnceOf = null; failOpenOf = null
    countOpensOf = null; renameFailOf = null; opens.set(0)
  }

  /** Bind the `flaky://` scheme on `conf`, for both the FileSystem and
    * the FileContext (marker commit) APIs.
    */
  def register(conf: Configuration): Unit = {
    conf.set("fs.flaky.impl", classOf[FlakyFs].getName)
    conf.set("fs.AbstractFileSystem.flaky.impl", classOf[FlakyAbstractFs].getName)
  }

  /** Serializes fault-injecting test bodies on this companion — the
    * toggles are process-global, so two suites injecting faults in
    * parallel (one JVM) would bleed into each other. Always clears on
    * the way out, even when the body already cleared.
    */
  def locked[A](body: => A): A = synchronized { try body finally clear() }
}

/** FileContext-side binding for `flaky://` (the store's marker commits
  * go through FileContext, which resolves AbstractFileSystem, not
  * FileSystem). Pure delegation — the faults live in [[FlakyFs]].
  */
class FlakyAbstractFs(uri: java.net.URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new FlakyFs, conf, "flaky", false)
