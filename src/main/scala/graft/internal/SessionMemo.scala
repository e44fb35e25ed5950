package graft.internal

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, table-state) memo of an expensive derived value —
  * the one place that decides whether a value is kept across calls.
  * Nine instances use it: the signature state
  * ([[graft.operators.TextAnalysisShared.DocSigs]]),
  * the LM scores and bigram counts ([[graft.operators.Curation]]), the
  * BPE merge list ([[graft.operators.Lifecycle]]), the BPE training
  * vocabulary ([[graft.operators.TokenizerTrain]]), the IVF codebook
  * broadcast ([[graft.operators.QualityFilters]]), the sign-bucket cell
  * layout of `q_ann_pruned` ([[graft.operators.VectorSearch]]), each
  * table's Parquet schema ([[graft.io.Tables]]) and the retrieve's
  * feedback scores ([[graft.storage.MemoryStore.feedbackScores]]).
  * `Alma`'s prepared retrieve plans are not memos: they hold plan
  * structure and no data, like Spark's codegen cache, so no table state
  * can make one stale and no memo conf needs to turn them off. Within a
  * session the first consumer of a shared chain pays the build
  * (typically a [[SessionMemo.pin]], a collect, a [[Scratch]] write, or
  * the schema-inference job) and later consumers re-read the result.
  *
  *  - '''One entry per (session, table path).''' The entry holds the
  *    fingerprint of the table directory's file listing (file count
  *    plus per-file path, length, mtime AND a head/tail content
  *    sample, via the Hadoop FileSystem, so it works on HDFS/S3 paths
  *    too) beside the value. A rewritten table misses naturally — no
  *    reliance on the opt-out conf — and its rebuild replaces the entry
  *    in one step: two builds for one path never run at once, and the
  *    superseded value is referenced by nothing, so Spark's
  *    ContextCleaner frees its checkpoint blocks and broadcasts.
  *  - '''Eviction for stopped sessions.''' The memoized DataFrames
  *    strongly reference their SparkSession, so a WeakHashMap keyed on
  *    the session alone never collects (the value pins the key). Every
  *    access purges entries whose SparkContext has stopped; their
  *    checkpoint blocks died with the context, this just frees the
  *    driver-side plans.
  *  - '''Attribution.''' Builds run under a
  *    [[graft.observability.Metrics.withOp]] label, so an op-metrics
  *    sink charges the shared chain to its builder (the same contract
  *    as `pair_guard_census`) instead of silently folding it into
  *    whichever query happened to run first.
  *
  * One switch turns every memo off: with [[SessionMemo.EnabledConf]]
  * `=false` nothing is kept across calls. A call bypasses the memo — it
  * rebuilds, unlabeled, inside the consuming query — and
  * [[SessionMemo.pin]] hands back the plain plan; that is what
  * per-query standalone-cost benchmarking and the caches-off oracle run
  * want. A materialization that one query reads more than once (the
  * signature vectors behind a census and a pair join, `q_ann_pruned`'s
  * written layout) is not a pin: it stays a plain `localCheckpoint` or
  * [[Scratch]] write in both modes.
  */
private[graft] final class SessionMemo[V](opLabel: String) {

  private val cache =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (String, V)]]()

  /** FNV-1a 64 over the recursive listing: file count, then per file
    * (path, length, mtime) PLUS a bounded content sample — the first 16
    * and last 64 bytes. (path, length, mtime) alone aliases a
    * same-length in-place rewrite that lands within the filesystem's
    * mtime granularity (1 s on many stores) to the SAME key, silently
    * serving a stale frame. The tail sample closes that for the format
    * that matters here: a Parquet rewrite with different content almost
    * always differs in its footer (column stats / metadata live there —
    * the sampled 64-byte tail covers the footer-length + magic region),
    * and the head catches raw-file edits.
    *
    * Cost is bounded STRUCTURALLY, not by convention — in both I/O and
    * driver memory. The listing is consumed in ONE streaming pass:
    * per-file (path, length, mtime) folds into an ORDER-INDEPENDENT
    * accumulator (sum + xor of per-file FNV sub-hashes, commutative,
    * so no sort — and no buffering of `LocatedFileStatus` objects,
    * whose block-location payload would make a sort-the-listing
    * approach O(parts) driver memory on a many-hundred-part
    * object-store table). Only the content-sample candidates — the
    * [[SessionMemo.SampleFiles]] lexicographically smallest and
    * largest paths, with their lengths — are retained, in two bounded
    * heaps; they are then sampled (first 16 + last 64 bytes) in
    * path-sorted order, so the sampled SET and the fingerprint are
    * stable against filesystem listing-order variance while the sort
    * touches ≤ 2·SampleFiles elements, never the listing. At most 32
    * opens + 64 positioned reads per fingerprint no matter how many
    * parts the table has — a constant number of GETs, never one per
    * part. A same-length/same-mtime byte rewrite of an UNSAMPLED
    * middle file can alias (accepted residual — it requires forging
    * mtime to sub-granularity AND preserving length on a file the
    * path order hides); any length, mtime, name or count change
    * anywhere still misses — including length/mtime PERMUTATIONS
    * among same-named files in different partition dirs, which the
    * full-path sub-hash keeps distinct under the commutative combine.
    * A file that cannot be sampled (raced delete) mixes a sentinel,
    * so the fingerprint still changes when the listing does.
    */
  private def fingerprint(s: SparkSession, tablePath: String): String = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // One FNV-1a 64 byte-fold serves both the outer fingerprint and
    // the per-file sub-hashes — a single definition so the two can
    // never drift in strength.
    def fnv(h0: Long, x: Long): Long = {
      var h = h0
      var i = 0
      while (i < 8) { h ^= (x >>> (i * 8)) & 0xff; h *= 0x100000001b3L; i += 1 }
      h
    }
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = h = fnv(h, x)
    // The per-file sub-hash keys on the FULL path, not the basename:
    // the commutative combine below has no positional information, and
    // partitioned tables legitimately repeat basenames across partition
    // dirs (p=1/part-00000, p=2/part-00000) — name-only sub-hashes
    // would let two same-named files EXCHANGE (len, mtime) without
    // moving the multiset, aliasing a real rewrite to the same key.
    // The path folds as its CHARACTER BYTES, not String.hashCode: the
    // 32-bit Java hash collides trivially ("Aa" vs "BB"), and a
    // collision re-opens the exchange aliasing the full-path keying
    // exists to close. Still one streaming pass, O(path length) per
    // file.
    def fnvStr(h0: Long, s: String): Long = {
      var h = h0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        h ^= c & 0xff; h *= 0x100000001b3L
        h ^= (c >>> 8) & 0xff; h *= 0x100000001b3L
        i += 1
      }
      h
    }
    def fileHash(path: String, len: Long, mtime: Long): Long =
      fnv(fnv(fnvStr(0xcbf29ce484222325L, path), len), mtime)
    var metaSum = 0L
    var metaXor = 0L
    var n = 0
    // headK keeps the SampleFiles smallest paths (max-heap: dequeue
    // evicts the largest); tailK the SampleFiles largest (min-heap).
    val byPath = Ordering.by[(String, Long), String](_._1)
    val headK = scala.collection.mutable.PriorityQueue.empty[(String, Long)](byPath)
    val tailK = scala.collection.mutable.PriorityQueue.empty[(String, Long)](byPath.reverse)
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val hf = fileHash(st.getPath.toString, st.getLen, st.getModificationTime)
        metaSum += hf
        metaXor ^= hf
        n += 1
        val cand = (st.getPath.toString, st.getLen)
        headK.enqueue(cand); if (headK.size > SessionMemo.SampleFiles) { headK.dequeue(): Unit }
        tailK.enqueue(cand); if (tailK.size > SessionMemo.SampleFiles) { tailK.dequeue(): Unit }
      }
    }
    mix(metaSum); mix(metaXor)
    // On a table with ≤ 2·SampleFiles files the two windows overlap —
    // dedup so each file is sampled once (and counted once).
    val toSample = (headK.toSeq ++ tailK.toSeq).distinct.sortBy(_._1)
    toSample.foreach { case (pathStr, len) =>
      try {
        val in = fs.open(new org.apache.hadoop.fs.Path(pathStr))
        try {
          val head = new Array[Byte](math.min(16L, len).toInt)
          in.readFully(0L, head)
          head.foreach(b => mix(b.toLong))
          if (len > head.length) {
            val tailLen = math.min(64L, len - head.length).toInt
            val tail = new Array[Byte](tailLen)
            in.readFully(len - tailLen, tail)
            tail.foreach(b => mix(b.toLong))
          }
        } finally in.close()
      } catch { case _: java.io.IOException => mix(-1L) }
    }
    mix(n.toLong)
    java.lang.Long.toHexString(h)
  }

  def getOrBuild(s: SparkSession, tablePath: String)(build: => V): V = {
    if (!SessionMemo.enabled(s)) return build
    val perSession = cache.synchronized {
      val it = cache.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      cache.computeIfAbsent(s, _ => new ConcurrentHashMap[String, (String, V)]())
    }
    val fp = fingerprint(s, tablePath)
    // The build runs inside `compute`: a second caller for the same path
    // waits for it, then reads its value.
    perSession.compute(tablePath, (_, kept) =>
      if (kept != null && kept._1 == fp) kept
      else (fp, graft.observability.Metrics.withOp(s, opLabel)(build)))._2
  }
}

private[graft] object SessionMemo {
  /** The one opt-out conf of every memo (default `true`). */
  val EnabledConf = "spark.graft.memo.enabled"

  private def enabled(s: SparkSession): Boolean = s.conf.get(EnabledConf, "true").toBoolean

  /** A memo's cross-call pin: the frame checkpointed while memos keep
    * values, the plain frame when they are off.
    */
  def pin(s: SparkSession)(df: DataFrame): DataFrame =
    if (enabled(s)) df.localCheckpoint(true) else df

  /** Content-sample at most this many files from each end of the
    * path-sorted listing per fingerprint — the structural cap on the
    * fingerprint's I/O (≤ 2·SampleFiles opens regardless of part
    * count). 16 covers every memoized table in the repo completely
    * (few-file checkpoint outputs) while bounding the object-store
    * worst case.
    */
  val SampleFiles = 16
}
