package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Per-file deletion-vector blobs: each data file's deleted row
  * positions encoded as one delta-varint blob, many blobs PACKED into
  * a shared uuid-named sidecar file, each referenced from its data
  * file's own manifest entry as `dv=<rel>@<off>+<len>#<count>`.
  *
  * This is the storage shape that keeps merge-on-read readable at
  * 100 TB (Delta's DV sidecar design, re-derived): the scan task for
  * a data file loads ONLY its own blob with one ranged read — no
  * driver-side position collection, no global broadcast, therefore no
  * size cliff however large the table's cumulative churn grows. The
  * blob is immutable (uuid sidecar names, never appended), so an
  * executor-level cache keyed by the descriptor serves repeated scans
  * and multi-split files without re-reading.
  *
  * Encoding: unsigned LEB128 varints — count, first position, then
  * successive gaps (positions are distinct and sorted, so gaps are
  * ≥ 1 and a clustered delete costs ~1 byte per row). A descriptor
  * carries the blob's exact byte range and cardinality, so decoding
  * allocates exactly once and planning can size broadcasts and
  * rebuild heuristics without touching the sidecar.
  *
  * Reference behavior source: sf_datalake has no storage layer
  * (`io.py` reads plain parquet); this is beyond-reference scale work.
  */
private[graft] object DvSidecar {

  /** Key under which a data file's qualified descriptor rides the
    * [[org.apache.spark.sql.execution.datasources.FileStatusWithMetadata]]
    * map from [[GraftFileIndex.listFiles]] into each scan task's
    * [[org.apache.spark.sql.execution.datasources.PartitionedFile]] —
    * the per-file channel that replaces the global DV broadcast. */
  val MetaKey = "__graft_dv"

  /** A parsed `rel@off+len#count` deletion-vector reference. `rel` is
    * table-relative for manifest entries, or a qualified URI once
    * rendered into scan metadata. */
  final case class Desc(rel: String, off: Long, len: Int, count: Int) {
    // ',' joins stacked descriptors in [[load]] and in the manifest's
    // dv item ([[SnapshotTable.entryDvs]]) — a rel containing one
    // would silently corrupt the parse into two bogus descriptors.
    // Sidecar rels are library-generated uuid names today, so this
    // can only fire on a future codepath change; fail it loudly at
    // render time instead of mis-parsing at read time.
    require(!rel.contains(','),
      s"dv sidecar rel must not contain ',': $rel")
    def render: String = s"$rel@$off+$len#$count"
  }

  /** True for the per-file blob form (`@` never occurs in v1 whole-
    * parquet dv rels — staged uuid paths). */
  def isBlobRef(ref: String): Boolean = ref.indexOf('@') >= 0

  def parse(ref: String): Desc = {
    val at = ref.lastIndexOf('@')
    require(at > 0, s"not a dv blob descriptor: $ref")
    val coords = ref.substring(at + 1)
    val plus = coords.indexOf('+')
    val hash = coords.indexOf('#')
    require(plus > 0 && hash > plus, s"malformed dv descriptor: $ref")
    Desc(ref.substring(0, at),
      java.lang.Long.parseLong(coords.substring(0, plus)),
      Integer.parseInt(coords.substring(plus + 1, hash)),
      Integer.parseInt(coords.substring(hash + 1)))
  }

  /** The rel path of any dv ref (v1 whole-file or v2 blob) — what
    * vacuum matches against on-disk names. */
  def relOf(ref: String): String = {
    val at = ref.lastIndexOf('@')
    if (at < 0) ref else ref.substring(0, at)
  }

  // ---- blob codec ----------------------------------------------------

  private def varintSize(v: Long): Int = {
    var x = v; var n = 1
    while ((x & ~0x7FL) != 0) { x >>>= 7; n += 1 }
    n
  }

  private def writeVarint(buf: Array[Byte], pos: Int, v: Long): Int = {
    var x = v; var p = pos
    while ((x & ~0x7FL) != 0) {
      buf(p) = ((x & 0x7F) | 0x80).toByte; p += 1; x >>>= 7
    }
    buf(p) = x.toByte
    p + 1
  }

  /** Encode sorted DISTINCT non-negative positions. */
  def encode(positions: Array[Long]): Array[Byte] = {
    var size = varintSize(positions.length.toLong)
    var i = 0
    var prev = 0L
    while (i < positions.length) {
      size += varintSize(if (i == 0) positions(0)
                         else positions(i) - prev)
      prev = positions(i)
      i += 1
    }
    val buf = new Array[Byte](size)
    var p = writeVarint(buf, 0, positions.length.toLong)
    i = 0; prev = 0L
    while (i < positions.length) {
      p = writeVarint(buf, p, if (i == 0) positions(0)
                              else positions(i) - prev)
      prev = positions(i)
      i += 1
    }
    buf
  }

  def decode(bytes: Array[Byte]): Array[Long] = {
    var p = 0
    def varint(): Long = {
      var x = 0L; var shift = 0
      var b = bytes(p); p += 1
      while ((b & 0x80) != 0) {
        x |= (b & 0x7FL) << shift; shift += 7
        b = bytes(p); p += 1
      }
      x | ((b & 0x7FL) << shift)
    }
    val n = varint().toInt
    val out = new Array[Long](n)
    var prev = 0L
    var i = 0
    while (i < n) {
      prev += varint()
      out(i) = prev
      i += 1
    }
    out
  }

  // ---- executor-side blob cache ---------------------------------------

  /** Decoded-bytes ceiling for the per-JVM blob cache. Blobs are per
    * data file (≤ file row count × 8 B decoded), so a generous bound
    * keeps the hot working set of a churned table resident without
    * competing with execution memory. Test seam: a spec shrinks it to
    * pin the eviction bound without allocating gigabytes. */
  private[graft] var cacheMaxBytes = 256L << 20

  private val cacheBytes = new java.util.concurrent.atomic.AtomicLong
  private val cache = new java.util.LinkedHashMap[
      String, Array[Long]](64, 0.75f, /*accessOrder=*/ true)

  /** Evict least-recently-used entries (never `keep`) until the cache
    * is back under [[cacheMaxBytes]]. A removeEldestEntry override
    * would drop at most ONE entry per insertion — a run of inserts
    * each larger than the entry it evicts walks the total arbitrarily
    * far past the bound. Caller holds the cache monitor. */
  private def evictUntilBounded(keep: String): Unit = {
    val it = cache.entrySet().iterator()
    while (cacheBytes.get > cacheMaxBytes && it.hasNext) {
      val e = it.next()
      if (e.getKey != keep) {
        cacheBytes.addAndGet(-(e.getValue.length.toLong * 8 + 64))
        it.remove()
      }
    }
  }

  /** A data file's deleted positions from its rendered descriptor(s)
    * (comma-joined when stacked — not produced today, supported for
    * safety): one ranged read per blob, merged sorted, cached per
    * descriptor string. Descriptors name immutable uuid sidecars, so
    * a cache key can never alias different content. */
  def load(descs: String, conf: Configuration): Array[Long] = {
    cache.synchronized {
      val hit = cache.get(descs)
      if (hit != null) return hit
    }
    val parts = descs.split(",").filter(_.nonEmpty).map(parse)
    val arrays = parts.map { d =>
      val p = new Path(d.rel)
      val in = p.getFileSystem(conf).open(p)
      try {
        val buf = new Array[Byte](d.len)
        in.readFully(d.off, buf)
        val got = decode(buf)
        require(got.length == d.count,
          s"dv blob ${d.render}: decoded ${got.length} positions, " +
            s"descriptor says ${d.count}")
        got
      } finally in.close()
    }
    val merged =
      if (arrays.length == 1) arrays(0)
      else {
        val all = Array.concat(arrays.toIndexedSeq: _*)
        java.util.Arrays.sort(all)
        // distinct in place (stacked blobs may repeat positions)
        var w = 0; var i = 0
        while (i < all.length) {
          if (w == 0 || all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
          i += 1
        }
        if (w == all.length) all else java.util.Arrays.copyOf(all, w)
      }
    cache.synchronized {
      if (!cache.containsKey(descs)) {
        cacheBytes.addAndGet(merged.length.toLong * 8 + 64)
        cache.put(descs, merged)
        evictUntilBounded(keep = descs)
      }
    }
    merged
  }

  /** Test/observability hook: cached decoded bytes right now. */
  private[graft] def cachedBytes: Long = cacheBytes.get
}
