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
  import graft.state.KvStateStoreProvider

  private val ks = StructType(Seq(StructField("k", LongType)))
  private val vs = StructType(Seq(StructField("v", LongType)))
  private lazy val kproj = UnsafeProjection.create(ks)
  private lazy val vproj = UnsafeProjection.create(vs)
  private def krow(i: Long): UnsafeRow = kproj(InternalRow(i)).copy()
  private def vrow(i: Long): UnsafeRow = vproj(InternalRow(i)).copy()

  private def freshProvider(root: String, valueSchema: StructType = vs): KvStateStoreProvider = {
    val p = new KvStateStoreProvider
    p.init(StateStoreId(root, 0L, 0), ks, valueSchema, NoPrefixKeyStateEncoderSpec(ks),
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
    assert(afterFull >= 100L, "first commit is a full layer")

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

  test("compaction writes periodic full layers and prunes stale history") {
    InMemoryKvService.clearAll()
    val p = freshProvider("/spec-compact")
    var v = 0L
    // 17 commits -> full layers at v1, v8, v16; after v16, layers <8 pruned
    (1 to 17).foreach { i =>
      val s = p.getStore(v, None)
      s.put(krow(i % 5), vrow(i), "default")
      v = s.commit()
    }
    assert(v == 17L)
    val ns = InMemoryKvService.namespaces.find(_.contains("spec-compact")).get
    val raw = InMemoryKvService.namespace(ns)
    // layers below the previous full (v8) are physically gone
    assert(raw.scan("v2/".getBytes).isEmpty, "layer v2 should be pruned")
    assert(raw.get("meta/2".getBytes).isEmpty, "meta for v2 should be pruned")
    assert(raw.get("meta/16".getBytes).map(_(0).toChar).contains('F'),
      "v16 should be a full layer")
    val p2 = freshProvider("/spec-compact")
    val s = p2.getStore(17, None)
    (1 to 5).map(_ % 5).distinct.foreach { k =>
      assert(s.get(krow(k), "default") != null, s"key $k missing after compaction")
    }
    // latest value of each key wins across layers
    assert(s.get(krow(17 % 5), "default").getLong(0) == 17L)
    s.abort()
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

  test("a full commit reads O(CompactEvery) metas, however many versions came before") {
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
    assert(1000L % every == 0, "v1000 must be a full layer")
    assert(readsAt(1000L) == readsAt(3 * every),
      s"full-commit reads grow with history: ${readsAt(3 * every)} at v${3 * every}, " +
        s"${readsAt(1000L)} at v1000")
    assert(readsAt(1000L) <= 4 * every, s"full commit read ${readsAt(1000L)} times")
    // the bounded walk still prunes below the previous full layer (v992)
    val raw = InMemoryKvService.namespace(ns)
    assert(raw.get("meta/991".getBytes).isEmpty, "layer v991 should be pruned")
    assert(raw.get("meta/992".getBytes).map(_(0).toChar).contains('F'))
    val reloaded = freshProvider("/spec-reads").getStore(1000L, None)
    assert(entries(reloaded) == (993L to 999L).map(i => i % 7 -> i).toMap)
    reloaded.abort()
  }
}
