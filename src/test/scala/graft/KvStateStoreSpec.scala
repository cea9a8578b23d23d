package graft

import graft.state.InMemoryKvService
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: a streaming aggregation whose keyed state lives in the
  * PSL-analog KV service (the fork-delta feature). */
class KvStateStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming agg state flows through the KV provider across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    InMemoryKvService.clearAll()
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "graft.state.KvStateStoreProvider")
    try {
      val in = MemoryStream[(String, Long)]
      val agg = in.toDF().toDF("k", "v").groupBy("k").count()
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("kv_out").start()
      in.addData(("a", 1L), ("b", 1L))
      q.processAllAvailable()
      in.addData(("a", 1L)) // second batch must see version-1 state from KV
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("kv_out").as[(String, Long)].collect().toMap
      assert(rows == Map("a" -> 2L, "b" -> 1L))
      // state really lives in the KV service
      assert(InMemoryKvService.namespaces.nonEmpty, "no KV namespaces created")
      val totalKeys = InMemoryKvService.namespaces.map(InMemoryKvService.size).sum
      assert(totalKeys > 0, "no state rows written to KV")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("watermarked eviction iterates and removes without failing (append mode)") {
    // Spark's WatermarkSupport.removeKeysOlderThanWatermark removes keys
    // WHILE iterating the store — the path complete-mode tests never hit;
    // a fail-fast live iterator dies with ConcurrentModificationException
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    InMemoryKvService.clearAll()
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "graft.state.KvStateStoreProvider")
    try {
      val in = MemoryStream[(java.sql.Timestamp, String)]
      val agg = in.toDF().toDF("ts", "k")
        .withWatermark("ts", "0 seconds")
        .groupBy(org.apache.spark.sql.functions.window($"ts", "10 seconds"), $"k").count()
        .select($"k", $"count")
      val q = agg.writeStream.outputMode("append")
        .format("memory").queryName("kv_wm_out").start()
      def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
      in.addData((t(1), "a"), (t(2), "a"))
      q.processAllAvailable()
      in.addData((t(25), "b")) // watermark passes window [0,10): evict + emit
      q.processAllAvailable()
      in.addData((t(60), "c")) // watermark passes [20,30): evict again
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("kv_wm_out").as[(String, Long)].collect().toMap
      assert(rows == Map("a" -> 2L, "b" -> 1L), s"evicted windows must emit: $rows")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("offline state read over a KvStateStoreProvider checkpoint") {
    // savepoint-reader parity for the PSL-analog backend: the same
    // `statestore` batch source that reads HDFS-backed checkpoints reads
    // a checkpoint whose state lives in the KV service (the provider is
    // resolved from the session conf, the KV is the durable store)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    InMemoryKvService.clearAll()
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "graft.state.KvStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-kv-ckpt").toString
      val in = MemoryStream[(String, Long)]
      val agg = in.toDF().toDF("k", "v").groupBy("k").count()
      val q = agg.writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("kvr_out").start()
      in.addData(("a", 1L), ("b", 1L), ("a", 1L))
      q.processAllAvailable()
      q.stop()
      val rows = spark.read.format("statestore").load(ckpt)
        .selectExpr("key.k", "value.count").as[(String, Long)].collect().toMap
      assert(rows == Map("a" -> 2L, "b" -> 1L), s"offline KV state read: $rows")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("kv service tombstone delete semantics") {
    val kv = InMemoryKvService.namespace("spec-ns")
    kv.put("k1".getBytes, "v1".getBytes)
    assert(kv.get("k1".getBytes).map(new String(_)).contains("v1"))
    kv.delete("k1".getBytes)
    assert(kv.get("k1".getBytes).isEmpty)     // tombstoned
    assert(kv.scan("k".getBytes).isEmpty)     // scan skips tombstones
  }

  test("zero-length values are legal payloads, distinct from tombstones") {
    val kv = InMemoryKvService.namespace("spec-empty")
    kv.put("k".getBytes, Array.empty[Byte])
    assert(kv.get("k".getBytes).exists(_.isEmpty), "empty value must read back")
    assert(kv.scan("k".getBytes).size == 1)
    kv.delete("k".getBytes)
    assert(kv.get("k".getBytes).isEmpty)
  }

  test("kv scan: a segment prefix reads its segment, a bare prefix spans segments") {
    val kv = InMemoryKvService.namespace("spec-scan")
    Seq("v1/a", "v1/b", "v10/a", "w1/a", "v1", "v1x").foreach(k => kv.put(k.getBytes, k.getBytes))
    def keys(prefix: String): Set[String] =
      kv.scan(prefix.getBytes).map { case (k, v) =>
        assert(new String(v) == new String(k), "scan pairs each key with its value")
        new String(k)
      }.toSet
    assert(keys("v1/") == Set("v1/a", "v1/b"), "v1/ must exclude v10/ cells")
    assert(keys("v1/a") == Set("v1/a"))
    assert(keys("v1") == Set("v1/a", "v1/b", "v10/a", "v1", "v1x"))
    assert(keys("") == Set("v1/a", "v1/b", "v10/a", "w1/a", "v1", "v1x"))
    assert(kv.get("v1".getBytes).map(new String(_)).contains("v1"), "keys with no '/' read back")
    kv.delete("v1".getBytes)
    kv.delete("v1/a".getBytes)
    kv.delete("v1/b".getBytes)
    assert(keys("v1/").isEmpty)
    assert(keys("v1") == Set("v10/a", "v1x"))
    assert(InMemoryKvService.size("spec-scan") == 3)
  }

  // -- direct provider tests: delta-commit write complexity + compaction --

  import org.apache.hadoop.conf.Configuration
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
  import org.apache.spark.sql.execution.streaming.state._
  import org.apache.spark.sql.types._
  import graft.state.{ByteKv, KvStateStoreProvider}
  import scala.collection.mutable

  private val ks = StructType(Seq(StructField("k", LongType)))
  private val vs = StructType(Seq(StructField("v", LongType)))
  private lazy val kproj = UnsafeProjection.create(ks)
  private lazy val vproj = UnsafeProjection.create(vs)
  private def krow(i: Long): UnsafeRow = kproj(InternalRow(i)).copy()
  private def vrow(i: Long): UnsafeRow = vproj(InternalRow(i)).copy()

  // provider roots live under a temp dir: init creates the store's
  // checkpoint directory on the local filesystem
  private lazy val rootDir = java.nio.file.Files.createTempDirectory("graft-kv-spec").toString

  private def freshProvider(root: String, valueSchema: StructType = vs): KvStateStoreProvider = {
    val p = new KvStateStoreProvider
    p.init(StateStoreId(rootDir + root, 0L, 0), ks, valueSchema, NoPrefixKeyStateEncoderSpec(ks),
      false, StateStoreConf.empty, new Configuration(), false, None)
    p
  }

  test("delta commit writes O(dirty keys), not O(state)") {
    InMemoryKvService.clearAll()
    val p = freshProvider("/spec-delta")
    val s1 = p.getStore(0, None)
    (1L to 100L).foreach(i => s1.put(krow(i), vrow(i), "default"))
    assert(s1.commit() == 1L)
    val afterFull = InMemoryKvService.totalWrites
    assert(afterFull >= 100L, "first commit writes the base image")

    val s2 = p.getStore(1, None)
    s2.put(krow(5), vrow(50), "default")
    s2.remove(krow(7), "default")
    assert(s2.commit() == 2L)
    val deltaWrites = InMemoryKvService.totalWrites - afterFull
    assert(deltaWrites <= 4, s"delta commit must be O(dirty): wrote $deltaWrites")

    // a FRESH provider (no cache) reconstructs v2 from full+delta layers
    val p2 = freshProvider("/spec-delta")
    val s3 = p2.getStore(2, None)
    assert(s3.get(krow(5), "default").getLong(0) == 50L)
    assert(s3.get(krow(7), "default") == null, "delta delete must survive reload")
    var n = 0
    val it = s3.iterator("default")
    while (it.hasNext) { it.next(); n += 1 }
    assert(n == 99, s"expected 99 live rows, got $n")
    s3.abort()
  }

  test("re-commit of the same version converges (zombie-task idempotence)") {
    InMemoryKvService.clearAll()
    val p = freshProvider("/spec-recommit")
    val s1 = p.getStore(0, None)
    (1L to 10L).foreach(i => s1.put(krow(i), vrow(i), "default"))
    assert(s1.commit() == 1L)

    // first attempt at v2: dirty {5 -> 55, remove 7}
    val attempt1 = p.getStore(1, None)
    attempt1.put(krow(5), vrow(55), "default")
    attempt1.remove(krow(7), "default")
    assert(attempt1.commit() == 2L)

    // zombie RETRY of v2 from the same base with a DIFFERENT dirty set:
    // {6 -> 66}. The retried layer must fully replace attempt 1's cells —
    // key 5 stays at its v1 value and key 7 stays live.
    val attempt2 = p.getStore(1, None)
    attempt2.put(krow(6), vrow(66), "default")
    assert(attempt2.commit() == 2L)

    val p2 = freshProvider("/spec-recommit") // no cache: reads KV layers
    val s3 = p2.getStore(2, None)
    assert(s3.get(krow(6), "default").getLong(0) == 66L)
    assert(s3.get(krow(5), "default").getLong(0) == 5L,
      "attempt 1's put must not leak into the retried layer")
    assert(s3.get(krow(7), "default") != null,
      "attempt 1's delete must not leak into the retried layer")
    s3.abort()
  }

  test("compaction folds old deltas into one base and deletes them") {
    InMemoryKvService.clearAll()
    val p = freshProvider("/spec-compact")
    val every = KvStateStoreProvider.CompactEvery
    var v = 0L
    // v1 is the base; the commit that finds 2*CompactEvery deltas above it
    // (v17) folds v2..v9 into it
    (1L to 2 * every + 1).foreach { i =>
      val s = p.getStore(v, None)
      s.put(krow(i % 5), vrow(i), "default")
      v = s.commit()
    }
    assert(v == 17L)
    val raw = rawKv("spec-compact")
    // the folded layers are physically gone, the rest are whole
    (2L to 9L).foreach { l =>
      assert(raw.scan(s"v$l/".getBytes).isEmpty, s"layer v$l should be folded away")
      assert(raw.get(s"meta/$l".getBytes).isEmpty, s"meta for v$l should be folded away")
    }
    (10L to 17L).foreach(l => assert(raw.scan(s"v$l/".getBytes).size == 1, s"layer v$l"))
    // the base meta names the base, whose cells are version 9's image
    assert(baseOf(raw) == 9L)
    assert(baseImage(raw) == (5L to 9L).map(i => i % 5 -> i).toMap)
    // latest value of each key wins across base and deltas
    val s = freshProvider("/spec-compact").getStore(17, None)
    assert(entries(s) == (13L to 17L).map(i => i % 5 -> i).toMap)
    s.abort()
  }

  private def rawKv(tag: String): ByteKv =
    InMemoryKvService.namespace(InMemoryKvService.namespaces.find(_.contains(tag)).get)
  private def baseOf(raw: ByteKv): Long = new String(raw.get("meta/base".getBytes).get).toLong
  private def baseImage(raw: ByteKv): Map[Long, Long] =
    raw.scan("base/".getBytes).map { case (k, v) =>
      val key, value = new UnsafeRow(1)
      key.pointTo(k.drop("base/".length), k.length - "base/".length)
      value.pointTo(v, v.length)
      key.getLong(0) -> value.getLong(0)
    }.toMap

  /** Applies `ops` random puts and removes over keys [0, keys) to `s` and
    * to `shadow`; returns how many keys the store marks dirty. */
  private def churn(s: StateStore, rnd: scala.util.Random, shadow: mutable.Map[Long, Long],
      keys: Int, ops: Int): Int = {
    val dirty = mutable.Set.empty[Long]
    (1 to ops).foreach { _ =>
      val k = rnd.nextInt(keys).toLong
      if (rnd.nextInt(4) == 0) {
        s.remove(krow(k), "default")
        if (shadow.remove(k).isDefined) dirty += k
      } else {
        val x = rnd.nextLong()
        s.put(krow(k), vrow(x), "default")
        shadow(k) = x
        dirty += k
      }
    }
    dirty.size
  }

  /** Every version in [from, to] reloads in a fresh provider and equals
    * its shadow; every version in [1, from) fails loudly. */
  private def assertReloads(root: String, from: Long, to: Long, shadowAt: Long => Map[Long, Long]): Unit = {
    (from to to).foreach { v =>
      val s = freshProvider(root).getStore(v, None)
      assert(entries(s) == shadowAt(v), s"v$v of $root")
      s.abort()
    }
    (1L until from).foreach { v =>
      intercept[IllegalStateException](freshProvider(root).getStore(v, None))
    }
  }

  test("commit writes are bounded by 3 per dirty key plus 3 per commit") {
    InMemoryKvService.clearAll()
    val rnd = new scala.util.Random(11)
    val p = freshProvider("/spec-writes")
    val shadow = mutable.Map.empty[Long, Long]
    var v = 0L
    var dirtySum, emptyChecked = 0L
    val commits = 300
    (1 to commits).foreach { i =>
      val s = p.getStore(v, None)
      val ops = if (i == 1) 150 else if (rnd.nextInt(5) == 0) 0 else 1 + rnd.nextInt(40)
      val dirty = churn(s, rnd, shadow, 200, ops)
      val (w0, b0) = (InMemoryKvService.totalWrites, if (v == 0) 0L else baseOf(rawKv("spec-writes")))
      v = s.commit()
      dirtySum += dirty
      if (dirty == 0 && baseOf(rawKv("spec-writes")) == b0) {
        assert(InMemoryKvService.totalWrites - w0 == 1L, s"zero-dirty commit v$v wrote more than its meta")
        emptyChecked += 1
      }
    }
    assert(emptyChecked > 0, "no zero-dirty commit without a fold")
    assert(baseOf(rawKv("spec-writes")) > 1L, "no fold ran")
    val writes = InMemoryKvService.totalWrites
    assert(writes <= 3 * dirtySum + 3L * commits,
      s"$writes writes for $dirtySum dirty keys over $commits commits")
    val s = freshProvider("/spec-writes").getStore(v, None)
    assert(entries(s) == shadow.toMap)
    s.abort()
  }

  test("the latest CompactEvery+1 versions reload; below the base fails") {
    InMemoryKvService.clearAll()
    val every = KvStateStoreProvider.CompactEvery
    val rnd = new scala.util.Random(23)
    val p = freshProvider("/spec-window")
    val shadow = mutable.Map.empty[Long, Long]
    val shadowAt = mutable.Map(0L -> Map.empty[Long, Long])
    var v = 0L
    while (v < 6 * every) {
      val s = p.getStore(v, None)
      churn(s, rnd, shadow, 30, if (v == 0) 20 else rnd.nextInt(6))
      v = s.commit()
      shadowAt(v) = shadow.toMap
      val base = baseOf(rawKv("spec-window"))
      assert(base <= math.max(1L, v - every), s"v$v: the base ($base) cut the retained window")
      assertReloads("/spec-window", base, v, shadowAt)
    }
  }

  test("a fold cut short at any step still reloads every retained version") {
    InMemoryKvService.clearAll()
    val every = KvStateStoreProvider.CompactEvery
    val rnd = new scala.util.Random(5)
    val p = freshProvider("/spec-cut-run")
    val shadow = mutable.Map.empty[Long, Long]
    val shadowAt = mutable.Map(0L -> Map.empty[Long, Long])
    def step(s: StateStore): Long = {
      churn(s, rnd, shadow, 40, if (s.version == 0) 30 else 1 + rnd.nextInt(8))
      val next = s.commit()
      shadowAt(next) = shadow.toMap
      next
    }
    var v = 0L
    while (v < 2 * every) v = step(p.getStore(v, None))
    val raw = rawKv("spec-cut-run")
    val before = raw.scan(Array.emptyByteArray).toVector // v1..v16, no fold yet
    v = step(p.getStore(v, None)) // v17 folds v2..v9 into the base
    val folded = 1 + every
    assert(baseOf(raw) == folded)
    val v17 = raw.scan("v17/".getBytes).toVector :+ ("meta/17".getBytes -> Array.emptyByteArray)
    // the KV as the fold left it after each of its steps
    def cutAt(tag: String)(edit: ByteKv => Unit): Unit = {
      freshProvider(s"/spec-cut-$tag")
      val kv = rawKv(s"spec-cut-$tag")
      (before ++ v17).foreach { case (k, x) => kv.put(k, x) }
      kv.put("meta/base".getBytes, folded.toString.getBytes) // step 1
      edit(kv)
    }
    // step 2: the folded layers merged, the later write winning
    val merged = mutable.LinkedHashMap.empty[Seq[Byte], Array[Byte]]
    (2L to folded).foreach { l =>
      val prefix = s"v$l/".getBytes
      before.foreach { case (k, c) =>
        if (k.startsWith(prefix)) merged(k.drop(prefix.length).toSeq) = c
      }
    }
    def foldKeys(kv: ByteKv, n: Int): Unit = merged.take(n).foreach { case (k, c) =>
      val bk = "base/".getBytes ++ k
      if (c(0) == 1) kv.put(bk, c.drop(1)) else kv.delete(bk)
    }
    def dropCells(kv: ByteKv, l: Long, n: Int): Unit =
      kv.scan(s"v$l/".getBytes).take(n).toVector.foreach { case (k, _) => kv.delete(k) }
    cutAt("meta")(_ => ()) // step 1 only
    cutAt("half")(kv => foldKeys(kv, merged.size / 2)) // step 3, half done
    cutAt("drop") { kv => // step 4: v2..v4 deleted, v5 partly
      foldKeys(kv, merged.size)
      (2L to 4L).foreach { l => dropCells(kv, l, Int.MaxValue); kv.delete(s"meta/$l".getBytes) }
      dropCells(kv, 5L, (kv.scan("v5/".getBytes).size + 1) / 2)
    }
    assert(merged.nonEmpty && rawKv("spec-cut-drop").get("meta/5".getBytes).isDefined)
    Seq("meta", "half", "drop").foreach { tag =>
      assertReloads(s"/spec-cut-$tag", folded, v, shadowAt)
      // the next fold merges and deletes what the cut-short one left
      val cont = freshProvider(s"/spec-cut-$tag")
      val contRnd = new scala.util.Random(7)
      val contShadow = mutable.Map.from(shadowAt(v))
      val contAt = mutable.Map.from(shadowAt)
      var cv = v
      while (cv < v + every) {
        val s = cont.getStore(cv, None)
        churn(s, contRnd, contShadow, 40, 1 + contRnd.nextInt(8))
        cv = s.commit()
        contAt(cv) = contShadow.toMap
      }
      val kv = rawKv(s"spec-cut-$tag")
      assert(baseOf(kv) == v, s"$tag: the next fold did not run")
      (2L to v).foreach { l =>
        assert(kv.get(s"meta/$l".getBytes).isEmpty && kv.scan(s"v$l/".getBytes).isEmpty,
          s"$tag: layer v$l survived the next fold")
      }
      assertReloads(s"/spec-cut-$tag", v, cv, contAt)
    }
  }

  private def entries(s: StateStore): Map[Long, Long] = {
    val it = s.iterator("default")
    val out = Map.newBuilder[Long, Long]
    while (it.hasNext) { val p = it.next(); out += p.key.getLong(0) -> p.value.getLong(0) }
    out.result()
  }

  test("two stores opened on the same version are isolated") {
    InMemoryKvService.clearAll()
    val p = freshProvider("/spec-isolated")
    val s0 = p.getStore(0, None)
    (1L to 5L).foreach(i => s0.put(krow(i), vrow(i), "default"))
    assert(s0.commit() == 1L)
    val a = p.getStore(1, None)
    val b = p.getStore(1, None)
    a.put(krow(1), vrow(100), "default")
    a.remove(krow(2), "default")
    a.put(krow(6), vrow(6), "default")
    assert(a.commit() == 2L)
    // b still reads version 1, plus its own writes only
    b.put(krow(3), vrow(33), "default")
    assert(entries(b) == Map(1L -> 1L, 2L -> 2L, 3L -> 33L, 4L -> 4L, 5L -> 5L))
    b.abort()
    assert(entries(p.getStore(2, None)) == Map(1L -> 100L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 6L))
    assert(entries(p.getStore(1, None)) == (1L to 5L).map(i => i -> i).toMap)
  }

  test("an iterator opened before remove() yields the pre-remove entries") {
    InMemoryKvService.clearAll()
    val p = freshProvider("/spec-iter")
    val s = p.getStore(0, None)
    (1L to 10L).foreach(i => s.put(krow(i), vrow(i * 10), "default"))
    val it = s.iterator("default")
    (1L to 5L).foreach(i => s.remove(krow(i), "default"))
    val seen = Map.newBuilder[Long, Long]
    while (it.hasNext) { val pr = it.next(); seen += pr.key.getLong(0) -> pr.value.getLong(0) }
    assert(seen.result() == (1L to 10L).map(i => i -> i * 10).toMap)
    assert(s.get(krow(1), "default") == null)
    assert(entries(s) == (6L to 10L).map(i => i -> i * 10).toMap)
    s.abort()
  }

  test("metrics equal the recomputed key count and value bytes, from cache and reload") {
    InMemoryKvService.clearAll()
    val ss = StructType(Seq(StructField("s", StringType)))
    val sproj = UnsafeProjection.create(ss)
    def srow(n: Int): UnsafeRow =
      sproj(InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString("x" * n))).copy()
    def check(s: StateStore): Unit = {
      var keys, bytes = 0L
      val it = s.iterator("default")
      while (it.hasNext) { keys += 1; bytes += it.next().value.getSizeInBytes }
      assert(s.metrics.numKeys == keys)
      assert(s.metrics.memoryUsedBytes == bytes)
    }
    def churn(s: StateStore, salt: Int): Unit = {
      (1 to 30).foreach(i => s.put(krow(i), srow(i + salt), "default"))
      (1 to 30 by 3).foreach(i => s.put(krow(i), srow(i * 7 % 50), "default")) // overwrites
      (2 to 40 by 4).foreach(i => s.remove(krow(i), "default")) // hits and misses
      check(s)
    }
    val p = freshProvider("/spec-metrics", ss)
    val s1 = p.getStore(0, None)
    churn(s1, 0)
    assert(s1.commit() == 1L)
    val fromCache = p.getStore(1, None)
    check(fromCache)
    churn(fromCache, 5)
    assert(fromCache.commit() == 2L)
    val reloaded = freshProvider("/spec-metrics", ss).getStore(2, None)
    check(reloaded)
    churn(reloaded, 11)
    reloaded.abort()
  }

  test("a fold commit reads O(CompactEvery) cells at any version") {
    InMemoryKvService.clearAll()
    val p = freshProvider("/spec-reads")
    val every = KvStateStoreProvider.CompactEvery
    var v = 0L
    var ns = ""
    val readsAt = scala.collection.mutable.Map.empty[Long, Long]
    while (v < 1000L) {
      val before = if (ns.isEmpty) 0L else InMemoryKvService.readCount(ns)
      val s = p.getStore(v, None)
      s.put(krow(v % 7), vrow(v), "default")
      v = s.commit()
      if (ns.isEmpty) ns = InMemoryKvService.namespaces.find(_.contains("spec-reads")).get
      readsAt(v) = InMemoryKvService.readCount(ns) - before
    }
    // folds run at v17, v25, ...: every version 1 mod CompactEvery from
    // 2*CompactEvery+1 on; v993 is the last before v1000
    val (second, last) = (3 * every + 1, 1000L - (1000L - 1) % every)
    assert(last == 993L)
    assert(readsAt(last) == readsAt(second),
      s"fold-commit reads grow with history: ${readsAt(second)} at v$second, " +
        s"${readsAt(last)} at v$last")
    assert(readsAt(last) <= 4 * every, s"fold commit read ${readsAt(last)} times")
    assert(readsAt(last) > readsAt(last - 1), s"v$last did not fold")
    // the last fold advanced the base to v985 and deleted every layer below
    val raw = InMemoryKvService.namespace(ns)
    assert(baseOf(raw) == last - every)
    assert(raw.get("meta/985".getBytes).isEmpty, "layer v985 should be folded away")
    assert(raw.get("meta/986".getBytes).isDefined)
    val reloaded = freshProvider("/spec-reads").getStore(1000L, None)
    assert(entries(reloaded) == (993L to 999L).map(i => i % 7 -> i).toMap)
    reloaded.abort()
  }
}
