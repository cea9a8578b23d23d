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
  * Versioning (LSM-style layers): each committed version v > 1 is a DELTA
  * layer under prefix "v<v>/" holding only the keys that micro-batch
  * dirtied (a removed key is an explicit 1-byte delete cell), marked
  * committed by the cell "meta/<v>"; commit cost is O(dirty keys), and a
  * commit with no dirty key writes its meta cell only. Below the deltas
  * lies ONE rolling BASE layer: the untagged image of version b under
  * "base/", with b in the cell "meta/base"; version 1 is written as the
  * base. Loading version v >= b reads the base plus every delta layer
  * still present up to v. When 2*`CompactEvery` deltas sit above the
  * base, the commit folds the oldest `CompactEvery` of them into it —
  * base meta first, then the merged keys, then the folded layers deleted
  * in ascending order — so a commit writes at most about three cells per
  * dirty key, the KV holds one image plus at most 2*`CompactEvery` delta
  * layers, and the latest `CompactEvery`+1 versions always reload
  * (ample for Structured Streaming's last-couple-of-versions retry
  * contract). In steady state the provider serves the last committed
  * version from its in-process cache, so the KV is only scanned on
  * restart/failover. The cache holds a persistent map (copy-on-write
  * state, as in Flink's state tables): a store opened from it and the
  * commit that publishes the next version share structure, so neither
  * copies the state. The KV remains the single source of truth for every
  * retained version — the PSL design premise of no separate snapshot
  * files.
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
  private def hasLayer(v: Long): Boolean = kv.get(metaKey(v)).isDefined

  /** Version of the base layer; 0 before the first commit. */
  private def baseVersion(): Long =
    kv.get(BaseMeta).map(b => new String(b).toLong).getOrElse(0L)

  /** Cells of delta layer v, keyed by the state key they stage. */
  private def layerCells(v: Long): Iterator[(Key, Array[Byte])] = {
    val p = layerPrefix(v)
    kv.scan(p).map { case (k, cell) => (new Key(Arrays.copyOfRange(k, p.length, k.length)), cell) }
  }

  /** First layer of the run of present delta layers that ends at `top`,
    * or `top`+1 when layer `top` is absent. Called with the base version,
    * the run is empty unless a fold was cut short: a fold deletes its
    * layers in ascending order, cells before meta, so what it leaves is
    * contiguous, only its first layer may be partial, and reapplying the
    * run over the base is idempotent. */
  private def lowestPresent(top: Long): Long = {
    var lo = top + 1
    while (lo > 1 && hasLayer(lo - 1)) lo -= 1
    lo
  }

  /** Reconstruct the merged state at `version` from the base and delta
    * layers. FAILS FAST (like HDFSBackedStateStoreProvider's missing-delta
    * error) when the version is not reconstructible — folded below the
    * base, or never committed; silently returning an empty map would
    * resume a query over empty aggregation state and produce wrong
    * results with no error. */
  private def loadMerged(version: Long): Snapshot = {
    if (version <= 0) return Snapshot(version, HashMap.empty, 0L)
    val base = baseVersion()
    if (base < 1 || version < base)
      throw new IllegalStateException(
        s"KvStateStoreProvider: version $version of $storeId is not " +
          s"reconstructible — the base layer is at version $base (folded " +
          "beyond the retained window, or never committed)")
    val b = HashMap.newBuilder[Key, Array[Byte]]
    kv.scan(BasePrefix).foreach { case (k, v) =>
      b += new Key(Arrays.copyOfRange(k, BasePrefix.length, k.length)) -> v
    }
    var rows = b.result()
    (lowestPresent(base) to version).foreach { v =>
      if (v > base && !hasLayer(v))
        throw new IllegalStateException(
          s"KvStateStoreProvider: layer $v needed for version $version " +
            s"of $storeId is missing")
      layerCells(v).foreach { case (k, cell) =>
        rows = if (cell(0) == CellLive) rows.updated(k, cell.drop(1)) else rows.removed(k)
      }
    }
    Snapshot(version, rows, rows.valuesIterator.map(_.length.toLong).sum)
  }

  /** One version's view: starts from the committed state of `loadVersion`,
    * stages changes and tracks dirty keys; commit publishes version+1 as a
    * delta layer (version 1 as the base). */
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
      if (next == 1) writeBase()
      else {
        val prefix = layerPrefix(next)
        // Idempotent re-commit (retried/zombie tasks): sweep any cells a
        // prior attempt left under v<next>/ so the layer reflects exactly
        // THIS attempt's writes — otherwise loadMerged would merge a failed
        // attempt's partial (or different) dirty set into every future
        // version, silently resurrecting stale state. A clean first commit
        // scans an empty prefix: zero extra writes.
        kv.scan(prefix).foreach { case (k, _) => kv.delete(k) }
        if (hasLayer(next)) kv.delete(metaKey(next))
        dirty.forEach { k =>
          val v = rows.getOrElse(k, null)
          kv.put(concat(prefix, k.bytes), if (v != null) liveCell(v) else Array(CellDead))
        }
        kv.put(metaKey(next), Array.emptyByteArray)
        val base = baseVersion()
        if (next - base >= 2 * CompactEvery) fold(base)
      }
      cached = Snapshot(next, rows, bytes) // atomic publish, no copy
      committed = true
      next
    }

    /** Version 1 is the base image itself; a re-commit first sweeps what a
      * prior attempt wrote there. */
    private def writeBase(): Unit = {
      kv.scan(BasePrefix).foreach { case (k, _) => kv.delete(k) }
      rows.foreachEntry((k, v) => kv.put(concat(BasePrefix, k.bytes), v))
      kv.put(BaseMeta, "1".getBytes)
    }

    /** Fold the deltas base+1..base+CompactEvery into the base layer. The
      * base meta advances FIRST: a fold cut short at any later step leaves
      * the folded layers, or the run of them not yet deleted, for
      * loadMerged to reapply over a base that holds each key at its old or
      * its folded value — the same state either way. The next fold merges
      * and deletes such a run along with its own layers. */
    private def fold(base: Long): Unit = {
      val top = base + CompactEvery
      kv.put(BaseMeta, top.toString.getBytes)
      val layers = lowestPresent(base) to top
      val merged = new java.util.HashMap[Key, Array[Byte]]()
      layers.foreach(v => layerCells(v).foreach { case (k, cell) => merged.put(k, cell) })
      merged.forEach { (k, cell) =>
        val bk = concat(BasePrefix, k.bytes)
        if (cell(0) == CellLive) kv.put(bk, Arrays.copyOfRange(cell, 1, cell.length))
        else kv.delete(bk)
      }
      // ascending, cells before meta: what a cut-short delete leaves is a
      // contiguous run ending at the new base
      layers.foreach { v =>
        kv.scan(layerPrefix(v)).foreach { case (k, _) => kv.delete(k) }
        kv.delete(metaKey(v))
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
  /** Fold cadence: a commit that finds 2*CompactEvery deltas above the
    * base folds the oldest CompactEvery into it, so the latest
    * CompactEvery+1 versions always reload. */
  val CompactEvery: Long = 8L
  // provider-level cell encoding inside delta layers: live row vs
  // delete-in-delta marker. Base cells hold the bare row.
  private[state] val CellLive: Byte = 1
  private[state] val CellDead: Byte = 0
  private val BasePrefix: Array[Byte] = "base/".getBytes
  private val BaseMeta: Array[Byte] = "meta/base".getBytes

  /** A committed version's merged state and its summed value lengths. */
  private final case class Snapshot(version: Long, rows: HashMap[Key, Array[Byte]], bytes: Long)

  private def concat(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = Arrays.copyOf(a, a.length + b.length)
    System.arraycopy(b, 0, out, a.length, b.length)
    out
  }
  private def liveCell(v: Array[Byte]): Array[Byte] = concat(Array(CellLive), v)
}
