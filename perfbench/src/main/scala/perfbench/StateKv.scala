package perfbench

import graft.state.{InMemoryKvService, KvStateStoreProvider}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.types._

import java.util.SplittableRandom

/** Seeded input of the state-kv workload: the initial live key set and,
  * per round, the ordered get/put/remove operations. Keys are drawn by a
  * Zipf law over a key space slightly larger than the live set, so puts
  * both overwrite and insert and removes both hit and miss. The volume and
  * mix of a round are fixed; the seed varies which keys, in which order. */
final class KvGen(seed: Long) {
  import KvGen._
  private val rnd = new SplittableRandom(seed)
  private val hot = Shuffle.perm(KeySpace, rnd) // rank -> key
  private val zipf = new Zipf(KeySpace, ZipfS)
  val initial: Array[Long] = Shuffle.perm(KeySpace, rnd).take(LiveKeys).map(_.toLong)
  private val mix: Array[Byte] =
    Array.fill(Gets)(0.toByte) ++ Array.fill(Puts)(1.toByte) ++ Array.fill(Removes)(2.toByte)

  /** Op codes: 0 get, 1 put, 2 remove. An empty round commits nothing. */
  final case class Round(kinds: Array[Byte], keys: Array[Long], vals: Array[Long])

  def next(r: Long): Round =
    if (r % EmptyEvery == EmptyEvery / 2) Round(Array.empty, Array.empty, Array.empty)
    else {
      val kinds = Shuffle.perm(mix.length, rnd).map(mix)
      val keys = Array.fill(mix.length)(hot(zipf.sample(rnd)).toLong)
      val vals = Array.fill(mix.length)(rnd.nextLong())
      Round(kinds, keys, vals)
    }
}

object KvGen {
  val KeySpace = 120000
  val LiveKeys = 100000
  val ZipfS = 0.99
  val Gets = 500
  val Puts = 350
  val Removes = 150
  /** One round in this many is empty: a commit with no dirty key. */
  val EmptyEvery = 10
  /** A run is whole cycles of this many rounds. At these rounds of each
    * cycle a fresh provider reloads the latest version: always one four
    * deltas past a full layer (one every CompactEvery = 8 commits). */
  val Cycle = 40
  val ReloadAt = Set(12L, 28L)
  /** The tail percentile is taken over this many first cycles (p90). */
  val TailCycles = 3
  /** Set-up loads per run; setup_s is their median. */
  val SetupLoads = 7
}

/** state-kv: the PSL-analog provider driven directly, no Spark job. One
  * closed-loop client: getStore(v), the round's ops, commit, next round. */
object StateKv {
  private val ks = StructType(Seq(StructField("k", LongType)))
  private val vs = StructType(Seq(StructField("v", LongType), StructField("r", LongType)))

  def run(cfg: Config, tr: Trace): Outcome = {
    val kproj = UnsafeProjection.create(ks)
    val vproj = UnsafeProjection.create(vs)
    def krow(k: Long): UnsafeRow = kproj(InternalRow(k)).copy()
    def vrow(v: Long, r: Long): UnsafeRow = vproj(InternalRow(v, r)).copy()
    def fresh(root: String): KvStateStoreProvider = {
      val p = new KvStateStoreProvider
      p.init(StateStoreId(root, 0L, 0), ks, vs, NoPrefixKeyStateEncoderSpec(ks),
        false, StateStoreConf.empty, new Configuration(), false, None)
      p
    }

    val gen = new KvGen(cfg.seed)
    val root = new java.io.File(cfg.work, "kv").getAbsolutePath
    // shadow model: key -> (v, round written)
    val shadow = new java.util.HashMap[Long, (Long, Long)]()

    // set-up: load the live key set and commit it as version 1, SetupLoads
    // times, each from a collected heap so the last load's garbage is not
    // part of the next one
    var provider: KvStateStoreProvider = null
    val setupS = (1 to KvGen.SetupLoads).map { _ =>
      InMemoryKvService.clearAll()
      shadow.clear()
      provider = null
      System.gc()
      val t0 = System.nanoTime()
      provider = fresh(root)
      val st = provider.getStore(0, None)
      gen.initial.foreach { k =>
        st.put(krow(k), vrow(k * 31, 0L), "default")
        shadow.put(k, (k * 31, 0L))
      }
      st.commit()
      Main.secondsSince(t0)
    }
    var version = 1L

    val roundMs = Seq.newBuilder[Double]
    val cpuMs = Seq.newBuilder[Double]
    val getStoreMs, commitMs, fullCommitMs = Seq.newBuilder[Double]
    val dirtyPer, writesPer = Seq.newBuilder[Double]
    val reloadS = Seq.newBuilder[Double]
    val opNs = new Array[Long](3)
    val opN = new Array[Long](3)
    var ops = 0L
    var rounds, reloads, failed = 0L
    var measuredNs = 0L

    def verify(st: StateStore): Boolean = {
      var ok = true
      var n = 0
      val it = st.iterator("default")
      while (it.hasNext) { it.next(); n += 1 }
      ok &&= n == shadow.size
      shadow.forEach { (k, v) =>
        val got = st.get(krow(k), "default")
        if (got == null || got.getLong(0) != v._1 || got.getLong(1) != v._2) ok = false
      }
      ok
    }

    val start = System.nanoTime()
    val deadline = cfg.deadlineNs(start)
    var r = 0L
    // whole cycles, at least TailCycles, so every run samples the same mix
    // of rounds
    while (r < KvGen.Cycle * KvGen.TailCycles || r % KvGen.Cycle != 0 ||
        System.nanoTime() < deadline) {
      r += 1
      tr.unit = s"round $r"
      // restart: the round runs on a fresh provider (no cache), whose
      // getStore rebuilds the latest version from the KV layers
      val reload = KvGen.ReloadAt.contains(r % KvGen.Cycle)
      if (reload) provider = fresh(root)
      val round = gen.next(r)
      val dirty = new java.util.HashSet[Long]()
      var bad = false
      val w0 = InMemoryKvService.totalWrites
      val c0 = Main.cpuNs()
      val t0 = System.nanoTime()
      // the reload's full check is not part of the round
      var checkNs, checkCpuNs = 0L
      tr.span("kv", "round") {
        val g0 = System.nanoTime()
        val st = tr.span("kv", if (reload) "reload" else "getStore")(
          provider.getStore(version, None))
        getStoreMs += Main.msSince(g0)
        if (reload) {
          reloadS += Main.secondsSince(g0)
          reloads += 1
          val v0 = System.nanoTime()
          val vc0 = Main.cpuNs()
          if (!verify(st)) failed += 1
          checkNs = System.nanoTime() - v0
          checkCpuNs = Main.cpuNs() - vc0
        }
        var i = 0
        while (i < round.kinds.length) {
          val k = round.keys(i)
          val o0 = if (tr.on) System.nanoTime() else 0L
          round.kinds(i) match {
            case 0 =>
              val got = st.get(krow(k), "default")
              val want = shadow.get(k)
              if (want == null) bad ||= got != null
              else bad ||= got == null || got.getLong(0) != want._1 || got.getLong(1) != want._2
            case 1 =>
              st.put(krow(k), vrow(round.vals(i), r), "default")
              shadow.put(k, (round.vals(i), r))
              dirty.add(k)
            case _ =>
              st.remove(krow(k), "default")
              if (shadow.remove(k) != null) dirty.add(k)
          }
          if (tr.on) {
            opNs(round.kinds(i)) += System.nanoTime() - o0
            opN(round.kinds(i)) += 1
          }
          i += 1
        }
        val m0 = System.nanoTime()
        version = tr.span("kv", "commit")(st.commit())
        (if (version % KvStateStoreProvider.CompactEvery == 0) fullCommitMs
         else commitMs) += Main.msSince(m0)
      }
      val ns = System.nanoTime() - t0 - checkNs
      cpuMs += (Main.cpuNs() - c0 - checkCpuNs) / 1e6
      measuredNs += ns
      roundMs += ns / 1e6
      dirtyPer += dirty.size.toDouble
      writesPer += (InMemoryKvService.totalWrites - w0).toDouble
      ops += round.kinds.length
      rounds += 1
      if (bad) failed += 1
    }
    tr.unit = ""
    // final check of the live provider's state against the shadow
    val st = provider.getStore(version, None)
    val finalOk = verify(st)
    st.abort()
    if (!finalOk) failed += 1
    val cells = InMemoryKvService.namespaces.map(InMemoryKvService.size).sum
    val heap = Main.liveHeapMb()

    val rm = roundMs.result()
    val tail = Stats.tail(rm.take(KvGen.Cycle * KvGen.TailCycles))
    val dp = dirtyPer.result()
    val wp = writesPer.result()
    val restart = reloadS.result()
    Outcome(
      attempted = rounds + reloads + 1, failed = failed,
      setupS = setupS, unitMs = rm, unitCpuMs = cpuMs.result(), heapMb = heap,
      named = Seq(
        "kv_round_p50_ms" -> Metric(Stats.median(rm), "ms"),
        "kv_round_tail_ms" -> Metric(tail.value, "ms"),
        "kv_ops_per_s" -> Metric(ops / (measuredNs / 1e9), "1/s"),
        "reload_s" -> Metric(Stats.median(restart), "s"),
        "setup_s" -> Metric(Stats.median(setupS), "s"),
        "live_heap_mb" -> Metric(heap, "MB")),
      layers = Map(
        "kv.getstore_ms" -> Stats.median(getStoreMs.result()),
        "kv.commit_ms" -> Stats.median(commitMs.result()),
        "kv.full_commit_ms" -> Stats.median(fullCommitMs.result()),
        "kv.get_us" -> opNs(0) / 1e3 / math.max(1L, opN(0)),
        "kv.put_us" -> opNs(1) / 1e3 / math.max(1L, opN(1)),
        "kv.remove_us" -> opNs(2) / 1e3 / math.max(1L, opN(2)),
        // counts over the first cycle, which every run completes, so one
        // seed gives the same numbers on every run
        "kv.dirty_per_commit" -> Stats.mean(dp.take(KvGen.Cycle)),
        "kv.writes_per_commit" -> Stats.mean(wp.take(KvGen.Cycle)),
        "kv.write_amp" -> wp.take(KvGen.Cycle).sum / math.max(1.0, dp.take(KvGen.Cycle).sum),
        "kv.cells" -> cells.toDouble),
      notes = Map("rounds" -> rounds, "reloads" -> reloads, "ops" -> ops,
        "live_keys" -> shadow.size, "empty_rounds" -> dp.count(_ == 0),
        "tail" -> Map("percentile" -> tail.percentile, "samples" -> tail.samples)))
  }
}
