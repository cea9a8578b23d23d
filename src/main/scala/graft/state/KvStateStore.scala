package graft.state

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.types.StructType

import java.util.Arrays
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.HashMap
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** PSL-analog remote-KV state backend — the fork's actual delta.
  *
  * Reference: flink-statebackend-psl — PslStateBackend.java:40 ("Minimal PSL
  * StateBackend scaffold"), PslKeyedStateBackend.java:50 (keyed state routed
  * to an external consensus-replicated KV service via KVSClient.java:40;
  * snapshotting unsupported at lines 93-110), ByteKv.java:13-64 (byte[]
  * adapter; delete is a tombstone write, line 50).
  *
  * Spark analog: a StateStoreProvider whose store operations delegate to a
  * pluggable byte-oriented KV client. `put` maps to a linearizable write and
  * `get` to a (linearizable) read, mirroring KVSClient.put/get semantics.
  * Like the reference prototype, this is scoped: single values per key
  * (no putList/merge), no prefix scan, and version history is retained in
  * the KV itself (the durable store IS the checkpoint — the reason the
  * reference could leave snapshotting unimplemented).
  */
trait ByteKv {
  def get(key: Array[Byte]): Option[Array[Byte]]
  def put(key: Array[Byte], value: Array[Byte]): Unit
  /** Tombstone-write delete, like ByteKv.java:50. */
  def delete(key: Array[Byte]): Unit
  def scan(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])]
}

/** Content-compared key bytes: the map key of the KV service and of the
  * provider's state map. Hashed with MurmurHash3: the base-31 polynomial of
  * `Arrays.hashCode` collides heavily on UnsafeRow's little-endian longs. */
private[state] final class Key(val bytes: Array[Byte]) {
  override def hashCode: Int = MurmurHash3.bytesHash(bytes)
  override def equals(o: Any): Boolean = o match {
    case k: Key => Arrays.equals(bytes, k.bytes)
    case _ => false
  }
}

/** In-process stand-in for the remote consensus KV service. Keyed by a
  * namespace so many stores (operator/partition) share one "service".
  *
  * A namespace groups its cells by SEGMENT — the key's bytes up to and
  * including the first '/', or the whole key when it has none — so a scan
  * whose prefix names a segment (a layer "v<v>/") reads that segment only,
  * while get/put/delete stay O(1) hash operations. Values are stored as
  * given and returned as stored: callers must not mutate an array after
  * handing it over or reading it. Zero-length values are legal payloads;
  * `delete` removes the cell, so an absent cell is the only tombstone.
  * Per-namespace read and write counters let tests assert commit cost.
  */
object InMemoryKvService {
  private type Cells = ConcurrentHashMap[Key, Array[Byte]]
  private val spaces = new ConcurrentHashMap[String, ConcurrentHashMap[Key, Cells]]()
  private val writeCounters = new ConcurrentHashMap[String, AtomicLong]()
  private val readCounters = new ConcurrentHashMap[String, AtomicLong]()

  private def segment(key: Array[Byte]): Key = {
    val slash = key.indexOf('/'.toByte)
    new Key(if (slash < 0) key else Arrays.copyOf(key, slash + 1))
  }

  private def hasPrefix(key: Array[Byte], prefix: Array[Byte]): Boolean =
    key.length >= prefix.length &&
      Arrays.equals(key, 0, prefix.length, prefix, 0, prefix.length)

  def namespace(name: String): ByteKv = new ByteKv {
    private val segs = spaces.computeIfAbsent(name, _ => new ConcurrentHashMap())
    private val writes = writeCounters.computeIfAbsent(name, _ => new AtomicLong)
    private val reads = readCounters.computeIfAbsent(name, _ => new AtomicLong)
    override def get(key: Array[Byte]): Option[Array[Byte]] = {
      reads.incrementAndGet()
      Option(segs.get(segment(key))).flatMap(cells => Option(cells.get(new Key(key))))
    }
    override def put(key: Array[Byte], value: Array[Byte]): Unit = {
      writes.incrementAndGet()
      segs.compute(segment(key), (_: Key, cells: Cells) => {
        val c = if (cells == null) new Cells() else cells
        c.put(new Key(key), value)
        c
      })
    }
    override def delete(key: Array[Byte]): Unit = {
      writes.incrementAndGet()
      // API semantics mirror ByteKv.java:50's tombstone write; the
      // in-memory stand-in reclaims the cell physically (a real
      // consensus log compacts tombstones too) — without this, pruned
      // layer cells accumulate forever and a long-running stream OOMs.
      // A segment goes with its last cell, so a pruned layer leaves no
      // empty table behind.
      segs.computeIfPresent(segment(key), (_: Key, cells: Cells) => {
        cells.remove(new Key(key))
        if (cells.isEmpty) null else cells
      })
    }
    override def scan(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] = {
      reads.incrementAndGet()
      // a prefix with a '/' names its segment; one without may match the
      // start of any segment
      val tables =
        if (prefix.contains('/'.toByte)) Option(segs.get(segment(prefix))).iterator
        else segs.entrySet().iterator().asScala
          .collect { case e if hasPrefix(e.getKey.bytes, prefix) => e.getValue }
      tables.flatMap(_.entrySet().iterator().asScala)
        .collect { case e if hasPrefix(e.getKey.bytes, prefix) => (e.getKey.bytes, e.getValue) }
    }
  }

  def clearAll(): Unit = { spaces.clear(); writeCounters.clear(); readCounters.clear() }
  def size(name: String): Int =
    Option(spaces.get(name)).map(_.values().asScala.map(_.size).sum).getOrElse(0)
  def namespaces: Seq[String] = spaces.keySet().asScala.toSeq
  /** Total get+scan RPCs issued against this namespace since clearAll. */
  def readCount(name: String): Long =
    Option(readCounters.get(name)).map(_.get).getOrElse(0L)
  def totalWrites: Long = writeCounters.values().asScala.map(_.get).sum
}

/** StateStoreProvider routing Structured Streaming keyed state to a ByteKv.
  * Enable with:
  * spark.sql.streaming.stateStore.providerClass=graft.state.KvStateStoreProvider
  *
  * Versioning (LSM-style layers — round-2 hardening over the full-rewrite
  * prototype): each committed version v is a LAYER under prefix "v<v>/",
  * either FULL (all live rows) or DELTA (only the keys dirtied by that
  * micro-batch; a removed key is an explicit 1-byte delete cell). Commit
  * cost is therefore O(dirty keys) per micro-batch, not O(state). Loading
  * version v merges the newest full layer f <= v with the deltas f+1..v.
  * In steady state the provider serves the last committed version from its
  * in-process cache, so the KV is only scanned on restart/failover. The
  * cache holds a persistent map (copy-on-write state, as in Flink's state
  * tables): a store opened from it and the commit that publishes the next
  * version share structure, so neither copies the state. A full layer is
  * written every `CompactEvery` commits and prunes all layers below the
  * PREVIOUS full layer, bounding retained history to <= 2*CompactEvery
  * versions (reloadable window — ample for Structured Streaming's
  * last-couple-of-versions retry contract). The KV remains the single
  * source of truth for every retained version — the PSL design premise of
  * no separate snapshot files.
  */
class KvStateStoreProvider extends StateStoreProvider {
  import KvStateStoreProvider._

  @volatile private var storeId: StateStoreId = _
  @volatile private var keySchema: StructType = _
  @volatile private var valueSchema: StructType = _
  private var kv: ByteKv = _
  // steady-state cache of the last committed version, published as ONE
  // volatile reference — separate fields allowed a retried task's commit
  // to swap the map between another thread's version check and its read,
  // silently handing it a FUTURE version's state
  @volatile private var cached: Snapshot = Snapshot(-1L, HashMap.empty, 0L)

  override def init(
      stateStoreId: StateStoreId,
      keySchema: StructType,
      valueSchema: StructType,
      keyStateEncoderSpec: KeyStateEncoderSpec,
      useColumnFamilies: Boolean,
      storeConfs: StateStoreConf,
      hadoopConf: Configuration,
      useMultipleValuesPerKey: Boolean,
      stateSchemaProvider: Option[StateSchemaProvider]): Unit = {
    require(!useColumnFamilies, "KvStateStoreProvider: column families unsupported (prototype scope)")
    require(!useMultipleValuesPerKey, "KvStateStoreProvider: multi-value keys unsupported")
    this.storeId = stateStoreId
    this.keySchema = keySchema
    this.valueSchema = valueSchema
    // normalize the root to a bare path: the streaming runtime and the
    // offline `statestore` reader spell the same checkpoint differently
    // (file:/x vs /x), and the namespace IS the store identity
    val root = new org.apache.hadoop.fs.Path(
      stateStoreId.checkpointRootLocation).toUri.getPath
    this.kv = InMemoryKvService.namespace(
      s"$root/${stateStoreId.operatorId}/" +
        s"${stateStoreId.partitionId}/${stateStoreId.storeName}")
    // keep the checkpoint layout ENUMERABLE: offline state tooling (the
    // `statestore` batch source) discovers partitions by listing
    // state/<op>/<partition>/ directories — rows live in the KV, but the
    // empty marker directory must exist on the checkpoint filesystem
    scala.util.Try {
      val dir = new org.apache.hadoop.fs.Path(
        stateStoreId.storeCheckpointLocation(), "_kv")
      dir.getFileSystem(hadoopConf).mkdirs(dir.getParent)
    }
  }

  override def stateStoreId: StateStoreId = storeId
  override def close(): Unit = ()

  override def getStore(version: Long, uniqueId: Option[String]): StateStore =
    new KvStore(version)

  private def layerPrefix(v: Long): Array[Byte] = s"v$v/".getBytes
  private def metaKey(v: Long): Array[Byte] = s"meta/$v".getBytes

  /** Layer kind of committed version v: Some('F') full, Some('D') delta. */
  private def layerKind(v: Long): Option[Char] =
    kv.get(metaKey(v)).map(_(0).toChar)

  /** Reconstruct the merged state at `version` from KV layers. FAILS
    * FAST (like HDFSBackedStateStoreProvider's missing-delta error) when
    * the version is not reconstructible — pruned below the retained
    * window, or never committed; silently returning an empty map would
    * resume a query over empty aggregation state and produce wrong
    * results with no error. */
  private def loadMerged(version: Long): Snapshot = {
    if (version <= 0) return Snapshot(version, HashMap.empty, 0L)
    var base = version
    while (base > 0 && !layerKind(base).contains('F')) base -= 1
    if (base < 1)
      throw new IllegalStateException(
        s"KvStateStoreProvider: version $version of $storeId is not " +
          "reconstructible — no full layer at or below it (pruned beyond " +
          "the retained window, or never committed)")
    var rows = HashMap.empty[Key, Array[Byte]]
    (base to version).foreach { v =>
      if (layerKind(v).isEmpty)
        throw new IllegalStateException(
          s"KvStateStoreProvider: layer $v needed for version $version " +
            s"of $storeId is missing")
      val p = layerPrefix(v)
      val cells = kv.scan(p).map { case (k, cell) =>
        (new Key(Arrays.copyOfRange(k, p.length, k.length)), cell)
      }
      // the full base layer is built in one pass; deltas are applied to it
      if (v == base)
        rows = HashMap.from(cells.collect { case (k, cell) if cell(0) == CellLive => (k, cell.drop(1)) })
      else cells.foreach { case (k, cell) =>
        rows = if (cell(0) == CellLive) rows.updated(k, cell.drop(1)) else rows.removed(k)
      }
    }
    Snapshot(version, rows, rows.valuesIterator.map(_.length.toLong).sum)
  }

  /** One version's view: starts from the committed state of `loadVersion`,
    * stages changes and tracks dirty keys; commit publishes version+1 as a
    * delta (or periodic full) layer. */
  private class KvStore(val loadVersion: Long) extends StateStore {
    // persistent: put/remove replace `rows`, so the cache and any open
    // iterator keep the version they were given
    private var rows: HashMap[Key, Array[Byte]] = _
    private var bytes = 0L // summed value lengths of `rows`, for metrics
    locally {
      val c = cached // one volatile read: version, rows and bytes move together
      val s = if (c.version == loadVersion) c else loadMerged(loadVersion)
      rows = s.rows
      bytes = s.bytes
    }
    private val dirty = new java.util.HashSet[Key]()
    private var committed = false

    // stored keys and values are owned copies (as HDFSBackedStateStore's
    // put copies): getBytes hands back an exactly-sized row's own buffer
    private def ownBytes(r: UnsafeRow): Array[Byte] = r.copy().getBytes
    private def bytesToRow(b: Array[Byte], fields: Int): UnsafeRow = {
      val r = new UnsafeRow(fields)
      r.pointTo(b, b.length)
      r
    }

    override def id: StateStoreId = storeId
    override def version: Long = loadVersion

    override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = {
      val b = rows.getOrElse(new Key(key.getBytes), null)
      if (b == null) null else bytesToRow(b, valueSchema.length)
    }

    override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = {
      val k = new Key(ownBytes(key))
      val v = ownBytes(value)
      val old = rows.getOrElse(k, null)
      bytes += v.length - (if (old == null) 0 else old.length)
      rows = rows.updated(k, v)
      dirty.add(k)
    }

    override def remove(key: UnsafeRow, colFamilyName: String): Unit = {
      val k = new Key(ownBytes(key))
      val old = rows.getOrElse(k, null)
      if (old != null) {
        rows = rows.removed(k)
        bytes -= old.length
        dirty.add(k)
      }
    }

    override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] = {
      // the StateStore contract allows mutation during iteration
      // (WatermarkSupport.removeKeysOlderThanWatermark calls remove()
      // mid-iteration on every watermarked operator): this walks the
      // persistent map as it is now, whatever remove() does after. Key
      // rows get their own bytes — a caller that mutated one would
      // otherwise change a stored key under its hash.
      val it = rows.iterator.map { case (k, v) =>
        new UnsafeRowPair(
          bytesToRow(k.bytes.clone(), keySchema.length),
          bytesToRow(v, valueSchema.length))
      }
      new StateStoreIterator(it)
    }

    override def valuesIterator(key: UnsafeRow, colFamilyName: String): Iterator[UnsafeRow] =
      Option(get(key, colFamilyName)).iterator

    override def prefixScan(prefixKey: UnsafeRow, colFamilyName: String): StateStoreIterator[UnsafeRowPair] =
      throw new UnsupportedOperationException(
        "KvStateStoreProvider: prefix scan unsupported (prototype scope, cf. PslKeyedStateBackend)")

    override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit =
      throw new UnsupportedOperationException("KvStateStoreProvider: merge unsupported")
    override def putList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
      throw new UnsupportedOperationException("KvStateStoreProvider: list state unsupported")
    override def mergeList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
      throw new UnsupportedOperationException("KvStateStoreProvider: list state unsupported")
    override def removeColFamilyIfExists(colFamilyName: String): Boolean =
      throw new UnsupportedOperationException("KvStateStoreProvider: column families unsupported")
    override def createColFamilyIfAbsent(
        colFamilyName: String, keySchema: StructType, valueSchema: StructType,
        keyStateEncoderSpec: KeyStateEncoderSpec, useMultipleValuesPerKey: Boolean,
        isInternal: Boolean): Unit =
      if (colFamilyName != StateStore.DEFAULT_COL_FAMILY_NAME)
        throw new UnsupportedOperationException("KvStateStoreProvider: column families unsupported")

    override def commit(): Long = {
      val next = loadVersion + 1
      val prefix = layerPrefix(next)
      // Idempotent re-commit (retried/zombie tasks): sweep any cells a
      // prior attempt left under v<next>/ so the layer reflects exactly
      // THIS attempt's writes — otherwise loadMerged would merge a failed
      // attempt's partial (or different) dirty set into every future
      // version, silently resurrecting stale state. A clean first commit
      // scans an empty prefix: zero extra writes.
      kv.scan(prefix).foreach { case (k, _) => kv.delete(k) }
      if (layerKind(next).isDefined) kv.delete(metaKey(next))
      // full layer on the first commit (no base yet) and every CompactEvery
      // commits thereafter; delta layer (dirty keys only) in between.
      val writeFull = next == 1 || next % CompactEvery == 0
      if (writeFull) {
        rows.foreachEntry((k, v) => kv.put(concat(prefix, k.bytes), liveCell(v)))
        kv.put(metaKey(next), Array('F'.toByte))
        pruneBelowPreviousFull(next)
      } else {
        dirty.forEach { k =>
          val v = rows.getOrElse(k, null)
          kv.put(concat(prefix, k.bytes), if (v != null) liveCell(v) else Array(CellDead))
        }
        kv.put(metaKey(next), Array('D'.toByte))
      }
      cached = Snapshot(next, rows, bytes) // atomic publish, no copy
      committed = true
      next
    }

    /** Physically remove all layers below the previous full layer — they are
      * no longer reachable from any loadable version. Full layers sit at
      * fixed versions (1 and every multiple of CompactEvery), so the
      * previous one is at most CompactEvery back; below it lies one
      * contiguous run of layers (one interval, more if a prune was cut
      * short), found by walking down to the first missing version. A full
      * commit so reads O(CompactEvery) metas, however long the stream. */
    private def pruneBelowPreviousFull(justWrote: Long): Unit = {
      val prevFull = (justWrote - 1 to math.max(1L, justWrote - CompactEvery) by -1)
        .find(v => layerKind(v).contains('F'))
      prevFull.foreach { pf =>
        var lowest = pf
        while (lowest > 1 && layerKind(lowest - 1).isDefined) lowest -= 1
        // ascending, so a prune cut short leaves a run the next walk reaches
        (lowest until pf).foreach { v =>
          kv.scan(layerPrefix(v)).foreach { case (k, _) => kv.delete(k) }
          kv.delete(metaKey(v))
        }
      }
    }

    override def abort(): Unit = { rows = HashMap.empty; bytes = 0L; dirty.clear() }
    override def release(): Unit = ()
    override def hasCommitted: Boolean = committed

    override def metrics: StateStoreMetrics =
      StateStoreMetrics(rows.size.toLong, bytes, Map.empty)

    override def getStateStoreCheckpointInfo(): StateStoreCheckpointInfo =
      StateStoreCheckpointInfo(storeId.partitionId, loadVersion + 1, None, None)
  }
}

object KvStateStoreProvider {
  /** Full-layer cadence: bounds retained layer count to <= 2*CompactEvery. */
  val CompactEvery: Long = 8L
  // provider-level cell encoding inside layer values: live row vs
  // delete-in-delta marker.
  private[state] val CellLive: Byte = 1
  private[state] val CellDead: Byte = 0

  /** A committed version's merged state and its summed value lengths. */
  private final case class Snapshot(version: Long, rows: HashMap[Key, Array[Byte]], bytes: Long)

  private def concat(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = Arrays.copyOf(a, a.length + b.length)
    System.arraycopy(b, 0, out, a.length, b.length)
    out
  }
  private def liveCell(v: Array[Byte]): Array[Byte] = concat(Array(CellLive), v)
}
