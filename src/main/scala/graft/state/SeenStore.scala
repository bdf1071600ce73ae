package graft.state

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Partitioned, append-only URL-seen state — the scale-true replacement for
  * a driver-built global Bloom filter (which at the north_star's 10^10 seen
  * URLs is a ~12 GB bitset: driver OOM + an impossible broadcast).
  *
  * Layout under `dir`:
  * {{{
  *   store.json                        parts / fpp / sketch config (fixed at creation)
  *   inc-<id>/data/seen_part=<p>/…     parquet url_hash increments (append-only)
  *   inc-<id>/sketch/p-<p>.<type>      per-partition sketch blob (bloom | cuckoo)
  *   inc-<id>/sketch/p-<p>.hashes      per-partition sorted int64 sidecar (exact state)
  *   compact-<g>/sketch/p-<p>.*        merged bank: all increments ≤ upTo in one sketch+sidecar
  *   manifest/inc-<id>.json            commit marker (atomic rename)
  *   manifest/compact-<g>.json         compaction commit marker {gen, upTo}
  * }}}
  *
  * Scale properties:
  *  - one-pass build: `append` repartitions the increment on `seen_part`
  *    and a single `foreachPartition` sorts each partition's hashes once,
  *    writes the sorted sidecar, and builds a right-sized sketch from the
  *    same array — executor-side; the driver never materializes a sketch;
  *  - size-gated direct probe: when the probe-visible banks fit
  *    `spark.graft.seenstore.directProbeMaxBytes` (byte string, default
  *    1g) the probe is a narrow codegen filter over the candidates' own
  *    partitioning — zero exchange; past the gate candidates exchange once
  *    on `__seen_part` so each task loads only its partitions' slices;
  *  - exact membership without a join: a sketch "maybe" falls through to a
  *    binary search of the partition's sorted sidecar, so the filter has
  *    no false positives and no second pass over the candidates;
  *  - once-per-JVM loads: every task's copy of the probe resolves to the
  *    JVM-wide [[SketchResolver]] for its bank list, so each (bank,
  *    partition) blob is read once per executor, not once per task; a
  *    newer bank list of the same store supersedes the cached one, so a
  *    long crawl pins one store's state, not one copy per round;
  *  - commits are O(|increment|): no rewrite of the accumulated seen set
  *    (the reference's analog is its append-only `sync.Map` registration,
  *    `dialer.go:401-410`); `compact` keeps the per-row probe at O(1)
  *    banks however many rounds committed.
  */
object SeenStore {

  final case class Config(parts: Int = 64, fpp: Double = 0.01, sketch: String = "bloom")

  final case class Filtered(result: DataFrame, release: () => Unit)

  def apply(dir: String, cfg: Config = Config()): Store = new Store(dir, cfg)

  final class Store(val dir: String, defaultCfg: Config) {

    /** Store config is fixed by whoever appends first (probe and append
      * must agree on the partitioning forever). */
    def config: Config = {
      val p = Paths.get(dir, "store.json")
      if (Files.exists(p)) {
        val n = mapper.readTree(Files.readAllBytes(p))
        Config(n.get("parts").asInt(), n.get("fpp").asDouble(), n.get("sketch").asText())
      } else defaultCfg
    }

    private def writeConfig(cfg: Config): Unit = {
      val p = Paths.get(dir, "store.json")
      if (!Files.exists(p)) {
        Files.createDirectories(p.getParent)
        Files.write(p, s"""{"parts":${cfg.parts},"fpp":${cfg.fpp},"sketch":"${cfg.sketch}"}"""
          .getBytes("UTF-8"))
      }
    }

    /** Committed increment ids: the contiguous prefix 0..k (an orphan
      * increment beyond a crash is invisible until recommitted). */
    def committedIds: Seq[Long] = {
      val mdir = Paths.get(dir, "manifest")
      if (!Files.exists(mdir)) return Seq.empty
      import scala.jdk.CollectionConverters._
      val ids = Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("inc-") && n.endsWith(".json"))
        .map(n => n.stripPrefix("inc-").stripSuffix(".json").toLong)
        .toSeq.sorted
      ids.zipWithIndex.takeWhile { case (id, i) => id == i }.map(_._1)
    }

    def isEmpty: Boolean = committedIds.isEmpty

    /** Append one increment (id must be committedIds.length — contiguous).
      * Idempotent: a crashed/orphaned increment with the same id is
      * overwritten. O(|newSeen|) I/O; the existing seen set is untouched. */
    def append(newSeen: DataFrame, id: Long, counters: Map[String, Long] = Map.empty): Unit = {
      val cfg = config
      writeConfig(cfg)
      require(id == committedIds.length, s"non-contiguous increment $id (have ${committedIds.length})")
      val incDir = s"$dir/inc-$id"
      val inc = newSeen.select(col("url_hash").cast("long").as("url_hash"))
        .distinct() // within-increment only: O(|new|)
        .withColumn("seen_part", pmod(col("url_hash"), lit(cfg.parts)).cast("int"))
        .repartition(cfg.parts, col("seen_part"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val obs = Observation(s"seen-inc-$id")
      inc.observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").partitionBy("seen_part").parquet(s"$incDir/data")
      val rows = obs.get("rows").asInstanceOf[Long]

      // per-partition sketch + exact sorted-hash sidecar in ONE pass over
      // the already-partitioned increment (hash partitioning puts every
      // row of a seen_part in exactly one task): each task groups its
      // rows per part, sorts once, writes the sidecar, and builds a
      // RIGHT-SIZED sketch from the same sorted array (the compact()
      // build — sized to the actual part, not a uniform rows/parts
      // estimate). Replaces a sketch groupBy-aggregate pass plus a second
      // sidecar pass: one fewer full scan of the increment and one fewer
      // driver action per commit. The probe binary-searches the sidecar
      // only when the sketch says maybe — the unseen filter stays EXACT
      // with zero joins.
      val ext = cfg.sketch
      val fpp = cfg.fpp
      val sketchDir = s"$incDir/sketch"
      inc.select(col("seen_part"), col("url_hash"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val byPart = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Long]]()
          it.foreach { row =>
            byPart.computeIfAbsent(row.getInt(0),
              _ => new scala.collection.mutable.ArrayBuffer[Long](1024)) += row.getLong(1)
          }
          val conf = new org.apache.hadoop.conf.Configuration()
          byPart.forEach { (part, buf) =>
            val arr = buf.toArray
            java.util.Arrays.sort(arr)
            val p = new org.apache.hadoop.fs.Path(s"$sketchDir/p-$part.hashes")
            val fs = p.getFileSystem(conf)
            val out = fs.create(p, true)
            val bb = java.nio.ByteBuffer.allocate(arr.length * 8)
            arr.foreach(bb.putLong)
            out.write(bb.array())
            out.close()
            val sk = SketchBank.buildSketch(arr, ext, fpp)
            val sp = new org.apache.hadoop.fs.Path(s"$sketchDir/p-$part.$ext")
            val so = fs.create(sp, true)
            so.write(sk)
            so.close()
          }
        }
      inc.unpersist()

      // commit marker last (atomic rename = the commit point)
      val mdir = Paths.get(dir, "manifest")
      Files.createDirectories(mdir)
      val json = mapper.createObjectNode()
      json.put("id", id)
      json.put("rowCount", rows)
      val cn = json.putObject("counters")
      counters.toSeq.sortBy(_._1).foreach { case (k, v) => cn.put(k, v) }
      val tmp = mdir.resolve(s".tmp-inc-$id.json")
      Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json))
      Files.move(tmp, mdir.resolve(s"inc-$id.json"), StandardCopyOption.ATOMIC_MOVE)
    }

    /** All committed seen hashes (exact), up to `maxId` inclusive. */
    def seenHashes(spark: SparkSession, maxId: Option[Long] = None): Option[DataFrame] = {
      val ids = maxId.map(m => committedIds.filter(_ <= m)).getOrElse(committedIds)
      if (ids.isEmpty) None
      else Some(ids.map(i => spark.read.parquet(s"$dir/inc-$i/data").select(col("url_hash")))
        .reduce(_ unionByName _))
    }

    /** Committed compaction generations as (gen, upTo-increment-id) pairs,
      * ascending by gen. */
    def compactions: Seq[(Long, Long)] = {
      val mdir = Paths.get(dir, "manifest")
      if (!Files.exists(mdir)) return Seq.empty
      import scala.jdk.CollectionConverters._
      Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("compact-") && n.endsWith(".json"))
        .map { n =>
          val node = mapper.readTree(Files.readAllBytes(mdir.resolve(n)))
          (node.get("gen").asLong(), node.get("upTo").asLong())
        }
        .toSeq.sortBy(_._1)
    }

    /** The sketch-bank directories a probe over increments `ids` (a
      * contiguous 0..m prefix) must consult: the newest compaction covering
      * a prefix of `ids`, plus the increments after it. Increments stay on
      * disk after compaction, so probes bounded by `maxId` (time travel to
      * a pre-compaction state) still resolve. */
    def probeBanks(ids: Seq[Long]): Seq[String] = {
      if (ids.isEmpty) return Seq.empty
      val m = ids.last
      compactions.filter(_._2 <= m).sortBy(c => (c._2, c._1)).lastOption match {
        case Some((gen, upTo)) =>
          s"$dir/compact-$gen/sketch" +: ((upTo + 1) to m).map(i => s"$dir/inc-$i/sketch")
        case None => ids.map(i => s"$dir/inc-$i/sketch")
      }
    }

    /** Log-structured compaction: merge every probe-visible bank's
      * per-partition sorted-hash sidecars (pairwise O(n) merges) into one
      * bank per partition and rebuild a right-sized sketch over the merged
      * hashes, executor-side — the driver never sees a hash or a sketch.
      * After commit, `filterUnseen` probes O(1) banks no matter how many
      * rounds committed; without this, a 1,000-round crawl pays 1,000
      * sketch checks per candidate row. The reference's seen map is one
      * structure, not a probe-per-epoch chain
      * (/root/reference/dialer.go:401-410) — this restores that shape for
      * the durable store. Append-only increments are untouched (crash
      * before the marker leaves an invisible orphan generation; `maxId`
      * replay still sees per-increment banks). */
    def compact(spark: SparkSession): Unit = {
      val ids = committedIds
      val banks = probeBanks(ids)
      if (banks.length <= 1) return // already one bank (or empty)
      val cfg = config
      val gen = (compactions.map(_._1) :+ -1L).max + 1
      val outSketchDir = s"$dir/compact-$gen/sketch"
      val banksArr = banks.toArray
      val sketchType = cfg.sketch
      val fpp = cfg.fpp
      // one row per store partition; each task k-way-merges its partitions.
      // EXPLICIT partition count (REPARTITION_BY_NUM): the rows are a few
      // bytes, so a bare repartition(col) lets AQE coalesce the exchange to
      // one task and serialize every partition's merge — the work here is
      // per-partition file I/O AQE cannot see
      spark.range(cfg.parts).selectExpr("cast(id as int) as p")
        .repartition(cfg.parts, col("p"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val conf = new org.apache.hadoop.conf.Configuration()
          it.foreach { row =>
            val p = row.getInt(0)
            val merged = banksArr
              .map(b => SketchBank.loadHashes(s"$b/p-$p.hashes"))
              .reduce(SketchBank.mergeDedupSorted)
            val path = new org.apache.hadoop.fs.Path(s"$outSketchDir/p-$p.hashes")
            val fs = path.getFileSystem(conf)
            val out = fs.create(path, true)
            val bb = java.nio.ByteBuffer.allocate(merged.length * 8)
            merged.foreach(bb.putLong)
            out.write(bb.array())
            out.close()
            val skBytes = SketchBank.buildSketch(merged, sketchType, fpp)
            val skPath = new org.apache.hadoop.fs.Path(s"$outSketchDir/p-$p.$sketchType")
            val skOut = fs.create(skPath, true)
            skOut.write(skBytes)
            skOut.close()
          }
        }
      // commit marker last (atomic rename = the commit point)
      val mdir = Paths.get(dir, "manifest")
      Files.createDirectories(mdir)
      val json = mapper.createObjectNode()
      json.put("gen", gen)
      json.put("upTo", ids.last)
      json.put("mergedBanks", banks.length)
      val tmp = mdir.resolve(s".tmp-compact-$gen.json")
      Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json))
      Files.move(tmp, mdir.resolve(s"compact-$gen.json"), StandardCopyOption.ATOMIC_MOVE)
    }

    /** Reclaim superseded compaction generations: every committed
      * generation except the newest is deleted (marker first, then the
      * data — a crash between the two leaves an invisible orphan dir).
      * Safe by construction: `probeBanks` only ever prefers the NEWEST
      * covering generation, and `maxId` time travel falls back to the
      * retained per-increment banks when no committed generation covers
      * the requested prefix. Storage after gc: increments (the durable
      * log) + one merged bank. */
    def gc(): Unit = {
      val gens = compactions
      if (gens.length <= 1) return
      val keep = gens.maxBy(c => (c._2, c._1))._1
      val mdir = Paths.get(dir, "manifest")
      gens.filter(_._1 != keep).foreach { case (g, _) =>
        Files.deleteIfExists(mdir.resolve(s"compact-$g.json"))
        graft.LocalFiles.deleteRec(new java.io.File(s"$dir/compact-$g"))
      }
    }

    /** Probe-state footprint in bytes (sketches + exact sidecars) across
      * the banks a probe over `ids` consults — the size that decides
      * routed vs direct probing in [[filterUnseen]]. */
    private def probeStateBytes(banks: Seq[String]): Long = {
      val conf = new org.apache.hadoop.conf.Configuration()
      banks.map { b =>
        val p = new org.apache.hadoop.fs.Path(b)
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) 0L
        else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      }.sum
    }

    /** Exact unseen filter as a narrow codegen filter: the probe checks the
      * sketch (fast definite-no) and falls through to a binary search of
      * the partition's exact sorted-hash state — no join, no second pass
      * over the candidates, no driver state. `release` is a no-op (kept
      * for API stability with earlier join-based builds).
      *
      * Routing is SIZE-ADAPTIVE (the broadcast-join decision applied to
      * seen state): when the probe-visible banks' on-disk footprint fits
      * `spark.graft.seenstore.directProbeMaxBytes` (a byte string such as
      * "512m"; default 1g), the
      * probe runs DIRECTLY over the candidates' existing partitioning —
      * zero exchange — and each executor lazily loads the whole bank set
      * once (a JVM-wide resolver cache de-duplicates loads across tasks).
      * Past the threshold — the north_star's 10^10-url store is ~100 GB —
      * candidates exchange once on `__seen_part` so each task loads only
      * its partitions' |seen|/parts-byte slices; leaving that exchange's
      * partition count to spark.sql.shuffle.partitions (not cfg.parts)
      * keeps AQE free to coalesce and decouples probe parallelism from
      * state layout. Output rows are identical either way (the filter is
      * a pure per-row predicate); only the exchange placement differs. */
    def filterUnseen(candidates: DataFrame, maxId: Option[Long] = None): Filtered = {
      val ids = maxId.map(m => committedIds.filter(_ <= m)).getOrElse(committedIds)
      if (ids.isEmpty) return Filtered(candidates, () => ())
      val cfg = config
      val banks = probeBanks(ids)
      val directMax = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        candidates.sparkSession.conf.get("spark.graft.seenstore.directProbeMaxBytes", "1g"))
      val withPart = candidates
        .withColumn("__seen_part", pmod(col("url_hash"), lit(cfg.parts)).cast("int"))
      val routed =
        if (probeStateBytes(banks) <= directMax) withPart
        else withPart.repartition(col("__seen_part"))
      val out = routed
        .filter(!seenContains(col("__seen_part"), col("url_hash"), dir, banks, cfg.parts))
        .drop("__seen_part")
      Filtered(out, () => ())
    }
  }

  private def mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  // --- sketch aggregate columns (Bridge: Column companion is private[sql]) --

  import org.apache.spark.sql.graft.Bridge

  /** The cuckoo-filter TypedImperativeAggregate (north_star state sketch). */
  def cuckooAgg(child: Column, capacity: Long): Column =
    Bridge.column(AggregateExpression(
      CuckooFilterAggregate(Bridge.expression(child), capacity), Complete, isDistinct = false))

  def seenContains(part: Column, hash: Column, store: String, banks: Seq[String],
                   parts: Int): Column =
    Bridge.column(SeenContains(Bridge.expression(part), Bridge.expression(hash),
      store, banks, parts))
}

/** Builds a [[CuckooFilter]] over a LONG column — same shape as Spark's
  * BloomFilterAggregate; emits the serialized filter. */
case class CuckooFilterAggregate(
    child: Expression,
    capacity: Long,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CuckooFilter] with UnaryLike[Expression] {

  override def createAggregationBuffer(): CuckooFilter = CuckooFilter.create(capacity)
  override def update(buf: CuckooFilter, input: InternalRow): CuckooFilter = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }
  override def merge(a: CuckooFilter, b: CuckooFilter): CuckooFilter = a.merge(b)
  override def eval(buf: CuckooFilter): Any = buf.serialize()
  override def serialize(buf: CuckooFilter): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): CuckooFilter = CuckooFilter.deserialize(bytes)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cuckoo_filter_agg"
  override def withNewMutableAggBufferOffset(offset: Int): CuckooFilterAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CuckooFilterAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): CuckooFilterAggregate =
    copy(child = c)
}

/** Codegen EXACT membership probe against the store's per-partition state:
  * sketch first (fast definite-no), then a binary search of the
  * partition's sorted-hash sidecar. The per-row path is allocation-free
  * and, once a slot is loaded, lock-free (indexed AtomicReferenceArrays —
  * no string keys, no LRU lock shared by task threads); the exact arrays
  * load lazily, only for partitions where a sketch ever says maybe. */
case class SeenContains(left: Expression, right: Expression,
                        store: String, banks: Seq[String], parts: Int)
    extends BinaryExpression {
  // the JVM-wide resolver for this bank list. The generated code's
  // reference to it is serialized into every task's closure; deserializing
  // that copy lands back on the shared instance (SketchResolver's
  // readResolve), so each (bank, partition) blob loads once per executor
  // on both the codegen and the interpreted path
  @transient private lazy val resolver = SketchResolver.forBanks(store, banks, parts)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullSafeEval(part: Any, hash: Any): Any =
    resolver.contains(part.asInstanceOf[Int], hash.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("seenResolver", resolver, classOf[SketchResolver].getName)
    defineCodeGen(ctx, ev, (p, h) => s"$ref.contains($p, $h)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SeenContains =
    copy(left = l, right = r)
  override def prettyName: String = "seen_contains"
}

/** The JVM-wide resolver cache: one resolver per store, for the store's
  * newest probed bank list. A bank is a sketch directory — a compacted
  * generation or a post-compaction increment — so the per-row loop is
  * O(active banks), O(1) after `Store.compact()`, independent of how many
  * crawl rounds ever committed. In a routed probe a task only touches the
  * partitions routed to it, so executor memory is O(|seen|/parts ×
  * parts-touched); the driver holds nothing it did not probe itself. */
object SketchResolver {
  // stores pinned at once; probing a further store drops the least
  // recently used one (it reloads lazily if probed again)
  private val MaxStores = 16
  // Keyed on the STORE, not the bank list: every crawl round probes a new
  // list (one more increment, or a fresh compaction), and a list keyed
  // cache would pin a copy of the store's state per round. Banks are
  // immutable once probe-visible, so a (banks, parts) match is a content
  // match; a different list for the same store replaces the cached one,
  // and tasks still holding the old resolver finish with it.
  private val byStore =
    new java.util.LinkedHashMap[String, SketchResolver](MaxStores * 2, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, SketchResolver]): Boolean =
        size > MaxStores
    }

  def forBanks(store: String, banks: Seq[String], parts: Int): SketchResolver =
    byStore.synchronized {
      val r = byStore.get(store)
      if (r != null && r.parts == parts && r.banks.sameElements(banks)) r
      else {
        val fresh = new SketchResolver(store, banks.toArray, parts)
        byStore.put(store, fresh)
        fresh
      }
    }

  /** Resolvers currently pinned in this JVM. */
  private[state] def pinned: Int = byStore.synchronized(byStore.size)
}

final class SketchResolver(val store: String, val banks: Array[String], val parts: Int)
    extends Serializable {
  @transient private lazy val probes =
    new java.util.concurrent.atomic.AtomicReferenceArray[SketchBank.Probe](banks.length * parts)
  @transient private lazy val exact =
    new java.util.concurrent.atomic.AtomicReferenceArray[Array[Long]](banks.length * parts)
  // one lock per (bank, partition) slot, taken only on a slot's first
  // touch: concurrent tasks wait for the one read instead of each reading
  @transient private lazy val locks = Array.fill(banks.length * parts)(new Object)

  // a task's deserialized copy resolves to the JVM-wide instance, whose
  // loaded arrays every task of the executor shares
  private def readResolve(): AnyRef = SketchResolver.forBanks(store, banks.toSeq, parts)

  private def loadProbe(idx: Int, bank: Int, part: Int): SketchBank.Probe =
    locks(idx).synchronized {
      if (probes.get(idx) == null) probes.set(idx, SketchBank.load(s"${banks(bank)}/p-$part"))
      probes.get(idx)
    }

  private def loadExact(idx: Int, bank: Int, part: Int): Array[Long] =
    locks(idx).synchronized {
      if (exact.get(idx) == null)
        exact.set(idx, SketchBank.loadHashes(s"${banks(bank)}/p-$part.hashes"))
      exact.get(idx)
    }

  def contains(part: Int, hash: Long): Boolean = {
    var i = 0
    while (i < banks.length) {
      val idx = i * parts + part
      var p = probes.get(idx)
      if (p == null) p = loadProbe(idx, i, part)
      if (p.mightContain(hash)) {
        // sketch maybe → exact sorted-hash state decides (no false positives)
        var arr = exact.get(idx)
        if (arr == null) arr = loadExact(idx, i, part)
        if (java.util.Arrays.binarySearch(arr, hash) >= 0) return true
      }
      i += 1
    }
    false
  }
}

/** Sketch-blob loader (cold path only — resolvers cache the result). */
object SketchBank {
  /** Sketch and sidecar files read in this JVM. */
  private[state] val loads = new java.util.concurrent.atomic.AtomicLong()

  private[state] trait Probe { def mightContain(h: Long): Boolean }
  private object Absent extends Probe { def mightContain(h: Long) = false }
  private final class Bloom(b: org.apache.spark.util.sketch.BloomFilter) extends Probe {
    def mightContain(h: Long): Boolean = b.mightContainLong(h)
  }
  private final class Cuckoo(c: CuckooFilter) extends Probe {
    def mightContain(h: Long): Boolean = c.mightContain(h)
  }

  /** O(n) merge of two sorted arrays, dropping duplicates (increments may
    * overlap when callers append without filtering first). */
  private[state] def mergeDedupSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    var last = 0L; var has = false
    while (i < a.length || j < b.length) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (!has || v != last) { out(k) = v; k += 1; last = v; has = true }
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Serialized right-sized sketch over a merged hash set (compaction
    * rebuild path — per-increment sketches were sized for their increment,
    * the merged bank gets one sized for the union). */
  private[state] def buildSketch(hashes: Array[Long], sketchType: String, fpp: Double): Array[Byte] =
    sketchType match {
      case "cuckoo" =>
        val c = CuckooFilter.create(math.max(64L, hashes.length.toLong))
        hashes.foreach(c.insert)
        c.serialize()
      case _ =>
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(math.max(64L, hashes.length.toLong), fpp)
        hashes.foreach(bf.putLong)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        bos.toByteArray
    }

  /** Sorted int64 state sidecar; absent file → empty array. */
  private[state] def loadHashes(path: String): Array[Long] = {
    loads.incrementAndGet()
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Array.emptyLongArray
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    val bb = java.nio.ByteBuffer.wrap(buf)
    val out = new Array[Long](len / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  private[state] def load(prefix: String): Probe = {
    loads.incrementAndGet()
    val conf = new org.apache.hadoop.conf.Configuration()
    def bytesOf(p: org.apache.hadoop.fs.Path): Option[Array[Byte]] = {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val len = fs.getFileStatus(p).getLen.toInt
          val buf = new Array[Byte](len)
          in.readFully(0, buf)
          Some(buf)
        } finally in.close()
      }
    }
    bytesOf(new org.apache.hadoop.fs.Path(prefix + ".bloom"))
      .map(b => new Bloom(org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b))): Probe)
      .orElse(bytesOf(new org.apache.hadoop.fs.Path(prefix + ".cuckoo"))
        .map(b => new Cuckoo(CuckooFilter.deserialize(b)): Probe))
      .getOrElse(Absent)
  }
}
