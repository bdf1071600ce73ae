package graft.state

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SeenStoreSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("cuckoo filter: no false negatives, plausible fp rate, serialize roundtrip") {
    val f = CuckooFilter.create(10000)
    val keys = (0 until 10000).map(i => i * 0x9e3779b97f4a7c15L + 17)
    keys.foreach(k => assert(f.insert(k)))
    assert(!f.hasOverflowed)
    keys.foreach(k => assert(f.mightContain(k), s"false negative for $k"))
    val fp = (0 until 100000).count(i => f.mightContain(-i * 0x517cc1b727220a95L - 3))
    assert(fp < 1000, s"fp rate too high: $fp/100000") // 16-bit fps: expect ~0.1%
    val back = CuckooFilter.deserialize(f.serialize())
    keys.foreach(k => assert(back.mightContain(k)))
  }

  test("cuckoo filter: merge keeps all keys from both sides") {
    val a = CuckooFilter.create(4000)
    val b = CuckooFilter.create(4000)
    val ka = (0 until 2000).map(i => i * 7919L + 1)
    val kb = (0 until 2000).map(i => i * 104729L + 2)
    ka.foreach(a.insert)
    kb.foreach(b.insert)
    a.merge(b)
    (ka ++ kb).foreach(k => assert(a.mightContain(k), s"lost $k in merge"))
  }

  test("cuckoo filter: overflow degrades to always-maybe (never a false negative)") {
    val f = CuckooFilter.create(64)
    val keys = (0 until 5000).map(i => i * 6364136223846793005L + 9)
    keys.foreach(f.insert)
    keys.foreach(k => assert(f.mightContain(k)))
  }

  test("cuckoo_filter_agg builds a filter distributively") {
    val hashes = spark.range(0, 5000).select(xxhash64(col("id")).as("url_hash"))
    val bytes = hashes.repartition(8)
      .agg(SeenStore.cuckooAgg(col("url_hash"), 5000).as("f"))
      .head.getAs[Array[Byte]](0)
    val f = CuckooFilter.deserialize(bytes)
    val all = hashes.as[Long].collect()
    all.foreach(h => assert(f.mightContain(h), "aggregate lost a key"))
  }

  test("append is O(|increment|): committing round N leaves earlier increments untouched") {
    val dir = Files.createTempDirectory("graft-seen-inc").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 1000).select(xxhash64(col("id")).as("url_hash")), 0L)
    def mtimes(inc: Long): Map[String, Long] = {
      val d = new java.io.File(s"$dir/inc-$inc")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(d).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = mtimes(0L)
    store.append(spark.range(1000, 1200).select(xxhash64(col("id")).as("url_hash")), 1L)
    assert(mtimes(0L) == before, "increment 0 files must not be rewritten by increment 1")
    // and increment 1 is small: its data holds only the new rows
    val inc1 = spark.read.parquet(s"$dir/inc-1/data").count()
    assert(inc1 == 200L)
    assert(store.committedIds == Seq(0L, 1L))
  }

  test("orphaned increment (crash before manifest) is invisible and replayable") {
    val dir = Files.createTempDirectory("graft-seen-orphan").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 500).select(xxhash64(col("id")).as("url_hash")), 0L)
    // simulate a crash: data + sketch written for inc-1, no manifest
    val orphan = spark.range(500, 700).select(xxhash64(col("id")).as("url_hash"))
    store.append(orphan, 1L)
    Files.delete(java.nio.file.Paths.get(dir, "manifest", "inc-1.json"))
    assert(store.committedIds == Seq(0L), "uncommitted increment must be invisible")
    // replay commits it cleanly over the orphan files
    store.append(orphan, 1L)
    assert(store.committedIds == Seq(0L, 1L))
    val f = store.filterUnseen(spark.range(0, 1000).select(xxhash64(col("id")).as("url_hash")))
    assert(f.result.count() == 300L) // 700..999 unseen
    f.release()
  }

  test("compact: 20 increments merge to one probe bank, filterUnseen unchanged") {
    for (sketch <- Seq("bloom", "cuckoo")) {
      val dir = Files.createTempDirectory(s"graft-seen-compact-$sketch").toString
      val store = SeenStore(dir, SeenStore.Config(parts = 4, sketch = sketch))
      // 20 rounds of 150 urls each, with deliberate overlap between rounds
      (0 until 20).foreach { i =>
        store.append(
          spark.range(i * 100, i * 100 + 150).select(xxhash64(col("id")).as("url_hash")), i)
      }
      val cand = spark.range(0, 4000).select(xxhash64(col("id")).as("url_hash"))
      val before = store.filterUnseen(cand).result.as[Long].collect().sorted
      assert(store.probeBanks(store.committedIds).length == 20)

      store.compact(spark)
      // probe-visible bank count is O(1) regardless of round count
      assert(store.probeBanks(store.committedIds).length == 1,
        "compaction must collapse the probe chain to one bank")
      val after = store.filterUnseen(cand).result.as[Long].collect().sorted
      assert(after.sameElements(before), "compaction must not change filter results")
      // seen = 0..2049 (last round covers 1900..2049) → 4000-2050 unseen
      assert(after.length == 4000 - 2050)

      // appends after compaction stack on top of the compacted bank
      store.append(spark.range(5000, 5100).select(xxhash64(col("id")).as("url_hash")), 20L)
      assert(store.probeBanks(store.committedIds).length == 2)
      val cand2 = spark.range(4990, 5010).select(xxhash64(col("id")).as("url_hash"))
      assert(store.filterUnseen(cand2).result.count() == 10L)

      // maxId time travel to a pre-compaction state still resolves
      // (per-increment banks are retained)
      val tt = store.filterUnseen(
        spark.range(0, 300).select(xxhash64(col("id")).as("url_hash")), maxId = Some(0L))
      assert(tt.result.count() == 150L, "maxId=0 must see only increment 0")

      // a second compaction folds the new increment in
      store.compact(spark)
      assert(store.probeBanks(store.committedIds).length == 1)
      assert(store.filterUnseen(cand2).result.count() == 10L)
    }
  }

  test("gc drops superseded generations; probes and time travel survive") {
    val dir = Files.createTempDirectory("graft-seen-gc").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    (0 until 4).foreach { i =>
      store.append(spark.range(i * 100, i * 100 + 100)
        .select(xxhash64(col("id")).as("url_hash")), i)
    }
    store.compact(spark) // gen 0 covers 0..3
    (4 until 6).foreach { i =>
      store.append(spark.range(i * 100, i * 100 + 100)
        .select(xxhash64(col("id")).as("url_hash")), i)
    }
    store.compact(spark) // gen 1 covers 0..5
    assert(store.compactions.map(_._1) == Seq(0L, 1L))
    store.gc()
    assert(store.compactions.map(_._1) == Seq(1L), "only the newest generation survives")
    assert(!new java.io.File(s"$dir/compact-0").exists(), "superseded blobs deleted")
    val cand = spark.range(0, 800).select(xxhash64(col("id")).as("url_hash"))
    assert(store.filterUnseen(cand).result.count() == 200L) // 600..799 unseen
    // time travel below the surviving generation's coverage: falls back to
    // the retained per-increment banks
    val tt = store.filterUnseen(cand, maxId = Some(1L))
    assert(store.probeBanks(store.committedIds.filter(_ <= 1L)).length == 2)
    assert(tt.result.count() == 600L) // only 0..199 seen at inc ≤ 1
  }

  test("compact crash before marker is invisible; replay commits cleanly") {
    val dir = Files.createTempDirectory("graft-seen-compact-crash").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    (0 until 3).foreach { i =>
      store.append(spark.range(i * 100, i * 100 + 100)
        .select(xxhash64(col("id")).as("url_hash")), i)
    }
    store.compact(spark)
    // simulate a crash: delete the marker, leaving the orphan generation dir
    Files.delete(java.nio.file.Paths.get(dir, "manifest", "compact-0.json"))
    assert(store.compactions.isEmpty, "uncommitted compaction must be invisible")
    assert(store.probeBanks(store.committedIds).length == 3)
    // replay writes a fresh generation over/past the orphan
    store.compact(spark)
    assert(store.probeBanks(store.committedIds).length == 1)
    val cand = spark.range(0, 600).select(xxhash64(col("id")).as("url_hash"))
    assert(store.filterUnseen(cand).result.count() == 300L)
  }

  test("probe plan: sketch probe is codegen'd, no bloom bytes cross the driver") {
    val dir = Files.createTempDirectory("graft-seen-plan").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 2000).select(xxhash64(col("id")).as("url_hash")), 0L)
    val cand = spark.range(0, 4000).select(xxhash64(col("id")).as("url_hash"))
    val f = store.filterUnseen(cand)
    val plan = f.result.queryExecution.executedPlan.toString
    assert(plan.contains("seen_contains"), "probe expression missing from plan")
    assert(!plan.contains("bloomFilter"), "no driver-side bloom subquery expected")
    assert(f.result.count() == 2000L)
    f.release()
  }

  test("probe routing is size-adaptive: direct (no exchange) under the gate, routed over it, identical rows") {
    val dir = Files.createTempDirectory("graft-seen-route").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    store.append(spark.range(0, 3000).select(xxhash64(col("id")).as("url_hash")), 0L)
    def candidates = spark.range(0, 6000).select(xxhash64(col("id")).as("url_hash"))
    val confKey = "spark.graft.seenstore.directProbeMaxBytes"
    // small state (default 1 GiB gate): DIRECT — zero probe exchange,
    // probe fused over the candidates' existing partitioning
    val direct = store.filterUnseen(candidates).result
    assert(!direct.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning(__seen_part"),
      "small state must probe directly (no __seen_part exchange)")
    val directRows = direct.orderBy("url_hash").collect().map(_.getLong(0)).toSeq
    // force the routed path (gate at 0 bytes): ONE exchange on __seen_part
    spark.conf.set(confKey, "0")
    try {
      val routed = store.filterUnseen(candidates).result
      assert(routed.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning(__seen_part"),
        "state past the gate must route candidates to their seen partition")
      val routedRows = routed.orderBy("url_hash").collect().map(_.getLong(0)).toSeq
      assert(routedRows == directRows, "probe routing must never change the result")
      // the gate is a byte string, like Spark's own size confs
      spark.conf.set(confKey, "1g")
      assert(!store.filterUnseen(candidates).result.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning(__seen_part"), "state under 1g must probe directly")
    } finally spark.conf.unset(confKey)
  }

  test("probe loads each (bank, partition) sketch and sidecar once per JVM, across tasks and passes") {
    val dir = Files.createTempDirectory("graft-seen-loads").toString
    val parts = 4
    val store = SeenStore(dir, SeenStore.Config(parts = parts))
    def hashes(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 8).select(xxhash64(col("id")).as("url_hash"))
    store.append(hashes(0, 4000), 0L)
    store.append(hashes(4000, 6000), 1L)
    val banks = store.probeBanks(store.committedIds).length
    assert(banks == 2)
    val before = SketchBank.loads.get
    // 8 candidate tasks on 4 cores, twice: every task probes every
    // partition of both banks, and both banks hold hits in every partition
    (1 to 2).foreach(_ => assert(store.filterUnseen(hashes(0, 12000)).result.count() == 6000L))
    val loads = SketchBank.loads.get - before
    assert(loads == 2L * banks * parts,
      s"$loads sketch/sidecar loads, want one sketch and one sidecar per (bank, partition)")
  }

  test("resolver cache: a store pins one resolver however many rounds probe it") {
    val dir = Files.createTempDirectory("graft-seen-rounds").toString
    val store = SeenStore(dir, SeenStore.Config(parts = 4))
    val pinned = (0 until 6).map { r =>
      store.append(spark.range(r * 1000L, (r + 1) * 1000L)
        .select(xxhash64(col("id")).as("url_hash")), r.toLong)
      // each round probes a new bank list: one more increment, or a compaction
      if (r % 2 == 1) store.compact(spark)
      val cand = spark.range(0, (r + 2) * 1000L, 1, 4).select(xxhash64(col("id")).as("url_hash"))
      assert(store.filterUnseen(cand).result.count() == 1000L)
      SketchResolver.pinned
    }
    assert(pinned.distinct.size == 1, s"pinned resolvers per round: ${pinned.mkString(",")}")
  }
}
