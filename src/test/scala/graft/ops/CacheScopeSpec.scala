package graft.ops

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel

/** r19 (VERDICT r18 #5): intra-query `.cache()` /  `localCheckpoint`
  * handles must be freed once the caller's action completes — WITHOUT an
  * external `clearCache()`. The free is listener-driven (asynchronous on
  * the QueryExecutionListener bus), so the assertions poll briefly.
  * Mirrors MediaIngestSpec's pinned-storage-count pattern: compare
  * against the pre-test pin count rather than zero, so pre-existing pins
  * from other suites sharing the session don't fail this one.
  */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private def pinned(): Int =
    spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel != StorageLevel.NONE)

  private def assertEventuallyFreed(before: Int, what: String): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (pinned() > before && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    val after = pinned()
    assert(after <= before,
      s"$what left pinned blocks after its action: $before -> $after (" +
        spark.sparkContext.getPersistentRDDs.values
          .filter(_.getStorageLevel != StorageLevel.NONE)
          .map(r => s"${r.id}:${r.name}").mkString(", ") + ")")
  }

  private val docs = Seq(
    (1L, "aa bb cc dd ee ff gg hh"),
    (2L, "aa bb cc dd ee ff gg ii"),
    (3L, "zz yy xx ww vv uu tt ss"),
    (4L, "aa bb cc dd ee ff gg hh"),
    (5L, "mm nn oo pp qq rr"),
  ).toDF("doc_id", "text")

  private val emb = Seq(
    (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
    (2L, Seq(0.8f, 0.2f), 1), (3L, Seq(0.0f, 1.0f), 1),
    (4L, Seq(0.1f, 0.9f), 0), (5L, Seq(0.5f, 0.5f), 1),
  ).toDF("vec_id", "embedding", "label")

  test("derived-cap pair machine frees its caches after the action") {
    spark.catalog.clearCache()
    val before = pinned()
    assert(NearDup.ngramJaccardPairsCapped(docs, n = 2).count() >= 0)
    assertEventuallyFreed(before, "ngramJaccardPairsCapped")
  }

  test("prefix-filtered jaccard frees its caches after the action") {
    spark.catalog.clearCache()
    val before = pinned()
    assert(NearDup.ngramJaccardPairs(docs, n = 2).count() >= 0)
    assertEventuallyFreed(before, "ngramJaccardPairs")
  }

  test("winnowing overlap frees its caches after the action") {
    spark.catalog.clearCache()
    val before = pinned()
    assert(TextAnalysis.winnowingOverlap(docs, k = 2, w = 2).count() >= 0)
    assertEventuallyFreed(before, "winnowingOverlap")
  }

  test("adaptive IVF with explicit nprobe frees the corpus cache " +
    "after the action (no external clearCache)") {
    // nprobe = 0 is the derived mode: its tune grid and search share one
    // cached ranked assignment, freed with the corpus cache
    for (nprobe <- Seq(1, 0)) {
      spark.catalog.clearCache()
      val before = pinned()
      assert(Similarity.ivfTopKAdaptive(emb, k = 2, nprobe = nprobe).count() >= 0)
      assertEventuallyFreed(before, s"ivfTopKAdaptive(nprobe=$nprobe)")
    }
  }

  test("embedding near-dup grid frees the block cache after the action") {
    spark.catalog.clearCache()
    val before = pinned()
    assert(Similarity.embeddingNearDups(emb).count() >= 0)
    assertEventuallyFreed(before, "embeddingNearDups")
  }

  test("semantic dedup answers a second action after its free") {
    // 64-dim vectors in two tight groups (semanticDedup trains at Dim)
    val df = (0 until 12).map { i =>
      val v = Array.fill(KMeans.Dim)(0.0f)
      v(i % 2) = 1.0f
      v(2 + i % 5) = 0.01f * i
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    spark.catalog.clearCache()
    val before = pinned()
    val kept = KMeans.semanticDedup(df, k = 2, iters = 2, tau = 0.9)
    val first = kept.count()
    assertEventuallyFreed(before, "semanticDedup")
    assert(kept.count() == first)
  }

  test("a library free leaves the caller's checkpointed input readable") {
    spark.catalog.clearCache()
    val ckDocs = docs.localCheckpoint()
    val ckRdd = ckDocs.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    val before = pinned()
    assert(NearDup.ngramJaccardPairsCapped(ckDocs, n = 2).count() >= 0)
    assertEventuallyFreed(before, "ngramJaccardPairsCapped")
    assert(spark.sparkContext.getPersistentRDDs.contains(ckRdd),
      "the caller's checkpoint was unpersisted by the library's free")
    assert(ckDocs.count() == 5)
  }

  test("release frees an eager checkpoint, a lazy checkpoint after its " +
    "action and a cache, and leaves a caller's persisted RDD alone") {
    import graft.util.CacheScope
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.catalog.clearCache()
    def ckRdd(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    val eager = docs.localCheckpoint(true)
    val lazyCk = docs.localCheckpoint(false)
    assert(lazyCk.count() == 5)
    val cached = docs.filter($"doc_id" > 1).cache()
    assert(cached.count() == 4)
    val callerRdd = spark.sparkContext.parallelize(Seq(Row(1L), Row(2L))).persist()
    val callerDf = spark.createDataFrame(callerRdd,
      StructType(Seq(StructField("x", LongType))))
    assert(callerDf.count() == 2)
    Seq(eager, lazyCk, cached, callerDf).foreach(CacheScope.release)
    val persistent = spark.sparkContext.getPersistentRDDs
    assert(!persistent.contains(ckRdd(eager)), "eager checkpoint still pinned")
    assert(!persistent.contains(ckRdd(lazyCk)), "lazy checkpoint still pinned")
    assert(cached.storageLevel == StorageLevel.NONE, "cache still registered")
    assert(persistent.contains(callerRdd.id),
      "release unpersisted the caller's RDD under a createDataFrame")
    assert(callerDf.count() == 2)
    callerRdd.unpersist()
  }

  test("scopes that never execute stay bounded, are forgotten without a " +
    "free, and an executed scope still frees its handles") {
    import graft.util.CacheScope
    spark.catalog.clearCache()
    val handles = (0 until 3 * CacheScope.MaxPending).map { i =>
      val h = spark.range(i + 1).toDF("x").cache()
      CacheScope.freeAfterUse(h.filter($"x" > 0), Seq(h))
      h
    }
    assert(CacheScope.pendingCount <= CacheScope.MaxPending)
    // the oldest scopes were forgotten, not fired: their handles stay cached
    assert(handles.forall(_.storageLevel != StorageLevel.NONE))
    spark.catalog.clearCache()
    val before = pinned()
    assert(Similarity.ivfTopKAdaptive(emb, k = 2, nprobe = 1).count() >= 0)
    assertEventuallyFreed(before, "ivfTopKAdaptive(nprobe=1) after the flood")
    assert(CacheScope.pendingCount <= CacheScope.MaxPending)
  }

  test("an action planned before the free does not leave the dropped " +
    "cache pinned") {
    import graft.util.{CacheScope, ListenerFence}
    import org.apache.spark.sql.functions.{count, lit}
    spark.catalog.clearCache()
    val before = pinned()
    val h = spark.range(100).toDF("x").cache()
    val result = CacheScope.freeAfterUse(h.filter($"x" % 2 === 0), Seq(h))
    // substituted against the cache while its entry still exists;
    // collect() runs this same QueryExecution (head() would plan anew)
    val again = result.agg(count(lit(1)))
    assert(again.queryExecution.withCachedData.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
    assert(result.count() == 50)
    assert(ListenerFence.await(spark.sparkContext))
    assert(h.storageLevel == StorageLevel.NONE, "the scope did not fire")
    assert(again.collect().head.getLong(0) == 50)
    assert(ListenerFence.await(spark.sparkContext))
    assertEventuallyFreed(before, "an action planned before the free")
  }

  test("a second action on the same freed DataFrame still computes the " +
    "identical result (unpersist drops blocks, not semantics)") {
    val df = TextAnalysis.winnowingOverlap(docs, k = 2, w = 2)
    val first = df.collect().toSeq
    val second = df.collect().toSeq
    assert(first == second)
  }
}
